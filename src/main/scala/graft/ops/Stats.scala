package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftColumns
import org.apache.spark.sql.types.{DecimalType, MapType, StructType}

/** Planning and inference statistics — the numbers you compute ABOUT a
  * pipeline before or after running it: how big a join will be, how
  * certain a measured proportion is.
  *
  * Not in the reference; engine extension (SURVEY §2.11).
  */
object Stats {

  /** Exact equi-join output cardinality WITHOUT running the join:
    * `|A ⋈ B| = Σ_k cntA(k)·cntB(k)`. Each side collapses to per-key
    * counts first (map-side combined — the shuffle carries 8-byte
    * counts, not rows), the count tables join on the key, and the
    * products sum in decimal (overflow-safe: a single hot key can
    * contribute quadratically). This is the cheap pre-flight check that
    * catches a fan-out join (bad key, duplicate dimension rows) BEFORE
    * it materializes 100× your input — and the exact form of what
    * cost-based optimizers approximate with sketches.
    *
    * Returns one row: `(n_pairs, n_keys_matched, max_key_pairs)` —
    * `max_key_pairs` names the worst single-key contribution (the skew
    * diagnosis; compare [[Skew.keySkewReport]]).
    */
  def joinSizeExact(a: DataFrame, keyA: String, b: DataFrame, keyB: String): DataFrame = {
    val ca = a.groupBy(col(keyA).as("__k")).agg(count(lit(1)).as("__ca"))
    val cb = b.groupBy(col(keyB).as("__k")).agg(count(lit(1)).as("__cb"))
    // counts cast to decimal BEFORE the product: two ~4e9-row sides on one
    // hot key put the pair count past Long.MaxValue (ANSI Spark throws)
    ca.join(cb, Seq("__k"))
      .select((col("__ca").cast(DecimalType(19, 0)) * col("__cb").cast(DecimalType(19, 0)))
        .cast(DecimalType(38, 0)).as("__pairs"))
      .agg(
        coalesce(sum(col("__pairs")), lit(0).cast(DecimalType(38, 0)))
          .cast("decimal(38,0)").as("n_pairs"),
        count(lit(1)).as("n_keys_matched"),
        coalesce(max(col("__pairs")), lit(0).cast(DecimalType(38, 0))).as("max_key_pairs"))
  }

  /** Mergeable count-min sketch as a plain DataFrame: `(d, w, cnt)` with
    * `depth × width` rows regardless of input size — the shuffle carries
    * the key stream hashed down to sketch cells (map-side combined).
    * Sketches of different datasets merge by summing cells; row `d`
    * hashes with a per-depth salt (`xxhash64(key, d)`).
    */
  def cmsTable(df: DataFrame, keyCol: String, depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && width >= 2, s"need depth>=1, width>=2: ($depth, $width)")
    val cells = (0 until depth).map { d =>
      struct(lit(d).as("d"),
        pmod(xxhash64(col(keyCol).cast("string"), lit(d)), lit(width.toLong)).as("w"))
    }
    df.select(explode(array(cells: _*)).as("__c"))
      .select(col("__c.d").as("d"), col("__c.w").as("w"))
      .groupBy(col("d"), col("w")).agg(count(lit(1)).as("cnt"))
  }

  /** Sketch-only UPPER bound on an equi-join's output size: the CMS
    * inner product `min_d Σ_w cntA[d,w]·cntB[d,w]`. Colliding keys can
    * only ADD to a cell product, so the bound can never undercount —
    * a deterministic guarantee, not a probabilistic one (q_joinsize_bound
    * verifies it against [[joinSizeExact]]). Use when even the per-key
    * count tables of [[joinSizeExact]] are too wide to move: this moves
    * `depth × width` cells per side, full stop.
    */
  def joinSizeUpperBound(a: DataFrame, keyA: String, b: DataFrame, keyB: String,
                         depth: Int = 5, width: Int = 1 << 12): DataFrame = {
    val ca = cmsTable(a, keyA, depth, width).withColumnRenamed("cnt", "__ca")
    val cb = cmsTable(b, keyB, depth, width).withColumnRenamed("cnt", "__cb")
    val perDepth = ca.join(cb, Seq("d", "w"))
      .groupBy(col("d"))
      .agg(sum((col("__ca").cast(DecimalType(19, 0)) * col("__cb").cast(DecimalType(19, 0)))
        .cast(DecimalType(38, 0))).as("__ip"))
    // A depth with NO overlapping cells proves the join empty — it must
    // contribute 0 to the min, not vanish from the inner join (and an
    // empty side must yield 0, never null).
    val spark = a.sparkSession
    spark.range(depth).select(col("id").cast("int").as("d"))
      .join(perDepth, Seq("d"), "left")
      .agg(min(coalesce(col("__ip"), lit(0).cast(DecimalType(38, 0))))
        .cast(DecimalType(38, 0)).as("upper_bound"))
  }

  /** Wilson score interval for a per-group proportion — the right CI
    * when groups are small or p̂ extreme (never leaves [0,1], unlike the
    * normal approximation). `successes` is a boolean/0-1 Column counted
    * over the group.
    *
    * All arithmetic is IEEE div/mul/sqrt on exact integer counts, in a
    * fixed expression tree — bit-reproducible across engines and
    * partitionings (the same discipline as [[Profile.corrExact]]).
    * Groups with n = 0 produce null bounds.
    *
    * @return per group: keys, n, x, p_hat, ci_lo, ci_hi
    */
  def proportionCi(df: DataFrame, groupBy: Seq[String], success: Column,
                   z: Double = 1.96): DataFrame = {
    require(z > 0, s"z must be positive: $z")
    val grouped =
      if (groupBy.isEmpty) df.agg(count(lit(1)).as("n"),
        sum(when(success, 1L).otherwise(0L)).as("x"))
      else df.groupBy(groupBy.map(col): _*)
        .agg(count(lit(1)).as("n"), sum(when(success, 1L).otherwise(0L)).as("x"))
    val n = col("n").cast("double")
    val p = col("x") / n
    val z2 = lit(z * z)
    val denom = lit(1.0) + z2 / n
    val center = p + z2 / (lit(2.0) * n)
    val spread = lit(z) * sqrt(p * (lit(1.0) - p) / n + z2 / (lit(4.0) * n * n))
    grouped
      .withColumn("p_hat", when(col("n") > 0, p))
      // clamp: float rounding can put a mathematically-0 bound at -3e-17
      .withColumn("ci_lo", when(col("n") > 0, greatest((center - spread) / denom, lit(0.0))))
      .withColumn("ci_hi", when(col("n") > 0, least((center + spread) / denom, lit(1.0))))
  }

  /** Cohen's kappa — chance-corrected agreement between two categorical
    * labelings of the same rows (annotator QA, declared-vs-detected
    * language audits, model-vs-model label drift):
    *
    *   κ = (p_o − p_e) / (1 − p_e),
    *   p_o = Σ_k n_kk / N,  p_e = Σ_k row_k·col_k / N²
    *
    * Multi-category by construction (the e-term joins A's marginals to
    * B's on the category value, so rectangular label spaces — a
    * category one rater never uses — contribute zero, the textbook
    * treatment). Returns ONE row `(n, po, pe, kappa)`, 6-dp; κ is null
    * when p_e = 1 (both raters constant — agreement is undefined, not
    * 0/0-Infinity).
    *
    * Determinism: every term is a ratio of exact long counts (products
    * bounded by N² — fine to ~3·10⁹ rows; beyond that the marginal
    * products need decimal, noted here so the limit is explicit), in a
    * fixed IEEE expression tree.
    *
    * Scale shape: one shuffle keyed (a, b) reduces the scan to the
    * contingency table (|A|·|B| cells); marginals and the diagonal are
    * cell-level aggregations; three 1-row frames combine via broadcast
    * cross join ([[graft.ops.Drift]]'s scalar-attach pattern). 100 TB
    * of labels costs one map-side-combined exchange.
    */
  /** Welch's two-sample t statistic — the unequal-variance A/B test
    * (the default experiment readout beside [[proportionCi]]'s
    * proportion bounds): per group-pair row,
    *
    *   t  = (m̄₁ − m̄₂) / √(v₁/n₁ + v₂/n₂)
    *   df = (v₁/n₁ + v₂/n₂)² / ((v₁/n₁)²/(n₁−1) + (v₂/n₂)²/(n₂−1))
    *
    * with v the SAMPLE variance. Returns one row
    * `(n_a, n_b, mean_a, mean_b, t, df)`, 6 dp.
    *
    * Determinism: both samples' (n, Σx, Σx²) accumulate as micro-
    * quantized DECIMAL(38,0) in ONE aggregation over the union-tagged
    * scan ([[graft.ops.Regression]]'s discipline); means/variances are
    * fixed IEEE trees over those exact integers. Groups need n ≥ 2 —
    * fewer has no sample variance and the row emits nulls for t/df.
    *
    * Scale shape: ONE grand aggregate carries both samples' moments as
    * conditional sums — single pass, single reduce, no join. 100 TB of
    * observations, one exchange to one row.
    */
  def welchT(df: DataFrame, inA: Column, inB: Column, value: Column): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    def q(c: Column): Column = round(c * lit(1e6), 0).cast(dec)
    // null values drop from BOTH n and the sums (keeping them would
    // count rows the moments never saw and bias the means)
    val tagged = df.select(
      when(inA, lit("a")).when(inB, lit("b")).as("__g"), q(value).as("__x"))
      .filter(col("__g").isNotNull && col("__x").isNotNull)
    // both sides' moments in ONE grand aggregate (conditional sums):
    // single pass, single reduce, no join for the plan guard to doubt
    val g = col("__g")
    def side(s: String): Seq[Column] = Seq(
      sum(when(g === s, 1L).otherwise(0L)).cast(dec).as(s"__n$s"),
      sum(when(g === s, col("__x"))).as(s"__s$s"),
      sum(when(g === s, col("__x") * col("__x"))).as(s"__ss$s"))
    val moments = side("a") ++ side("b")
    val m = tagged.agg(moments.head, moments.tail: _*)
    def nD(s: String) = col(s"__n$s").cast("double")
    def mean(s: String) = col(s"__s$s").cast("double") / nD(s) / lit(1e6)
    // sample variance from exact integers: (n·Σx² − (Σx)²) / (n·(n−1)),
    // in micro² units — converted inside the vOverN terms
    def vOverN(s: String) =
      (col(s"__n$s") * col(s"__ss$s") - col(s"__s$s") * col(s"__s$s")).cast("double") /
        (nD(s) * (nD(s) - lit(1.0))) / lit(1e12) / nD(s)
    val se2 = vOverN("a") + vOverN("b")
    val tStat = (mean("a") - mean("b")) / sqrt(se2)
    val dfW = (se2 * se2) /
      (vOverN("a") * vOverN("a") / (nD("a") - lit(1.0)) +
        vOverN("b") * vOverN("b") / (nD("b") - lit(1.0)))
    m.select(
        col("__na").cast("long").as("n_a"), col("__nb").cast("long").as("n_b"),
        round(mean("a"), 6).as("mean_a"), round(mean("b"), 6).as("mean_b"),
        when(col("__na") >= 2 && col("__nb") >= 2, round(tStat, 6)).as("t"),
        when(col("__na") >= 2 && col("__nb") >= 2, round(dfW, 6)).as("df"))
  }

  /** TOST equivalence test (two one-sided tests) — the inferential
    * flip of [[welchT]]: not "are the means different?" but "are they
    * provably WITHIN ±margin of each other?" — the question behind
    * "did the refactor keep the metric flat" and A/A validation, where
    * a non-significant t is NOT evidence of equivalence:
    *
    *   t_lower = (Δ + margin)/SE,   t_upper = (margin − Δ)/SE
    *
    * with Welch's SE; equivalent ⇔ min(t_lower, t_upper) > z_{1−α}
    * (the large-sample critical value, a stated literal).
    *
    * Determinism: [[welchT]]'s exact conditional moments; both t's and
    * the decision are fixed IEEE trees, the decision comparing the
    * ROUNDED min (oracle-identical).
    *
    * Scale shape: ONE grand conditional aggregate, 1 row.
    */
  def tost(df: DataFrame, inA: Column, inB: Column, value: Column,
           margin: Double, zCrit: Double = 1.6448536269514722): DataFrame = {
    require(margin > 0, s"equivalence margin must be positive: $margin")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    def q(c: Column): Column = round(c * lit(1e6), 0).cast(dec)
    val tagged = df.select(
      when(inA, lit("a")).when(inB, lit("b")).as("__g"), q(value).as("__x"))
      .filter(col("__g").isNotNull && col("__x").isNotNull)
    val g = col("__g")
    def side(s: String): Seq[Column] = Seq(
      sum(when(g === s, 1L).otherwise(0L)).cast(dec).as(s"__n$s"),
      sum(when(g === s, col("__x"))).as(s"__s$s"),
      sum(when(g === s, col("__x") * col("__x"))).as(s"__ss$s"))
    val moments = side("a") ++ side("b")
    val m = tagged.agg(moments.head, moments.tail: _*)
    def nD(s: String) = col(s"__n$s").cast("double")
    def mean(s: String) = col(s"__s$s").cast("double") / nD(s) / lit(1e6)
    def vOverN(s: String) =
      (col(s"__n$s") * col(s"__ss$s") - col(s"__s$s") * col(s"__s$s")).cast("double") /
        (nD(s) * (nD(s) - lit(1.0))) / lit(1e12) / nD(s)
    val se = sqrt(vOverN("a") + vOverN("b"))
    val diff = mean("a") - mean("b")
    val tLo = (diff + lit(margin)) / se
    val tUp = (lit(margin) - diff) / se
    val ok = col("__na") >= 2 && col("__nb") >= 2
    m.select(
      col("__na").cast("long").as("n_a"), col("__nb").cast("long").as("n_b"),
      round(diff, 6).as("mean_diff"),
      when(ok, round(se, 6)).as("se"),
      when(ok, round(tLo, 6)).as("t_lower"),
      when(ok, round(tUp, 6)).as("t_upper"),
      when(ok, round(least(tLo, tUp), 6) > lit(zCrit)).as("equivalent"))
  }

  /** Chi-square test of independence over two categorical columns —
    * the workhorse "are these associated?" screen (label vs source
    * balance, segment vs outcome): χ² = Σ_cells (o − e)²/e with
    * e = row·col/N. Returns ONE row `(n, dof, chi2)`,
    * dof = (|A|−1)(|B|−1), 6 dp.
    *
    * Determinism: observed counts and marginals are exact longs
    * (marginals as WINDOWS over the cell table — no joins, the
    * q_kappa/q_pmi discipline); each cell's term is a fixed IEEE tree
    * on those integers, nano-quantized BEFORE the cell sum (a raw
    * double Σ over cells would be partition-order-dependent).
    *
    * Scale shape: one (a,b)-keyed map-combined exchange to the cell
    * table; everything after is cell-level (windows + one grand agg +
    * a reused-exchange 1-row broadcast).
    */
  def chiSquareIndependence(df: DataFrame, a: Column, b: Column): DataFrame = {
    // null categories are excluded outright: countDistinct ignores null,
    // so keeping null cells would contribute χ² mass with no dof —
    // rows with unknown category are not evidence about association
    val cells = df.select(a.as("__a"), b.as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull)
      .groupBy(col("__a"), col("__b"))
      .agg(count(lit(1)).as("__n"))
    // NB: "__N" would collide with "__n" under Spark's default
    // case-insensitive resolution — hence "__tot"
    val totals = cells.agg(sum(col("__n")).as("__tot"),
      countDistinct(col("__a")).as("__da"), countDistinct(col("__b")).as("__db"))
    val W = org.apache.spark.sql.expressions.Window
    val ra = sum(col("__n")).over(W.partitionBy(col("__a")))
    val cb = sum(col("__n")).over(W.partitionBy(col("__b")))
    val e = ra.cast("double") * cb.cast("double") / col("__tot").cast("double")
    val o = col("__n").cast("double")
    val termNano = round((o - e) * (o - e) / e * lit(1e9), 0).cast("long")
    cells
      .crossJoin(broadcast(totals))
      .select(termNano.as("__t"), col("__tot"), col("__da"), col("__db"))
      .groupBy(col("__tot"), col("__da"), col("__db"))
      .agg(sum(col("__t")).as("__chi"))
      .select(col("__tot").as("n"),
        ((col("__da") - 1) * (col("__db") - 1)).as("dof"),
        round(col("__chi").cast("double") / lit(1e9), 6).as("chi2"),
        // Cramér's V effect size — chi2 says "associated", V says "how
        // much" on a 0..1 scale; null for a degenerate 1×k table
        when(least(col("__da"), col("__db")) >= 2,
          round(sqrt(col("__chi").cast("double") / lit(1e9)
            / (col("__tot").cast("double")
              * (least(col("__da"), col("__db")) - 1).cast("double"))), 6))
          .as("cramers_v"))
  }

  def cohenKappa(df: DataFrame, a: Column, b: Column): DataFrame = {
    val cells = df.select(a.as("__a"), b.as("__b"))
      .groupBy(col("__a"), col("__b"))
      .agg(count(lit(1)).as("__n"))
    val totals = cells.agg(sum(col("__n")).as("__N"),
      sum(when(col("__a") === col("__b"), col("__n")).otherwise(0L)).as("__agree"))
    // Marginals via a union of two projections of the SAME cells
    // aggregate, NOT a rowM⋈colM self-join: the inner join pushes
    // IsNotNull into one branch's scan, which breaks AQE exchange reuse
    // and re-scans the input per marginal (seen in the q_kappa final
    // plan). Every consumer here reads the identical cells exchange —
    // one scan at any scale. A category absent from one marginal makes
    // a null product, which sum() skips: exactly the join's
    // both-marginals-present semantics.
    val cats = cells
      .select(col("__a").as("__cat"), col("__n").as("__rn"),
        lit(null).cast("long").as("__cn"))
      .unionByName(cells.select(col("__b").as("__cat"),
        lit(null).cast("long").as("__rn"), col("__n").as("__cn")))
      .groupBy(col("__cat"))
      .agg(sum(col("__rn")).as("__ra"), sum(col("__cn")).as("__cb"))
    val peNum =
      cats.agg(coalesce(sum(col("__ra") * col("__cb")), lit(0L)).as("__pe_num"))
    val nD = col("__N").cast("double")
    val po = col("__agree").cast("double") / nD
    val pe = col("__pe_num").cast("double") / (nD * nD)
    totals.crossJoin(broadcast(peNum))
      .select(col("__N").as("n"),
        round(po, 6).as("po"),
        round(pe, 6).as("pe"),
        when(pe =!= 1.0, round((po - pe) / (lit(1.0) - pe), 6)).as("kappa"))
  }

  /** Linearly-weighted kappa — [[cohenKappa]] for ORDINAL ratings,
    * where disagreeing by one grade should cost less than disagreeing
    * by five: with linear disagreement weights w_ij = |i−j|,
    *
    *   κ_w = 1 − (Σ w·o_ij / N) / (Σ w·r_i c_j / N²)
    *
    * One row: `(n, d_o, d_e, kappa_w)` — d_o the observed mean
    * absolute grade gap, d_e its chance expectation; κ_w null when
    * d_e = 0 (a constant rater). Ratings must be integral grades;
    * rows with a null side drop.
    *
    * Determinism: the cell table and both Σw sums are exact decimal
    * integer arithmetic (|i−j| is exact); the final ratio is one IEEE
    * tree. Marginal PAIRS build by grand-collect + double explode
    * over the category-bounded marginal table ([[tukeyHsd]]'s
    * join-free shape).
    *
    * Scale shape: one (a,b)-cell aggregation (the only corpus-sized
    * shuffle), the [[cohenKappa]] union-marginal trick, k²-bounded
    * pair arithmetic on a 1-row frame.
    */
  def weightedKappa(df: DataFrame, a: Column, b: Column): DataFrame = {
    val dec = DecimalType(38, 0)
    val cells = df.filter(a.isNotNull && b.isNotNull)
      .select(a.cast("long").as("__a"), b.cast("long").as("__b"))
      .groupBy(col("__a"), col("__b"))
      .agg(count(lit(1)).as("__n"))
    val totals = cells.agg(sum(col("__n")).as("__N"),
      sum(abs(col("__a") - col("__b")).cast(dec) * col("__n").cast(dec))
        .as("__do"))
    val cats = cells
      .select(col("__a").as("__cat"), col("__n").as("__rn"),
        lit(null).cast("long").as("__cn"))
      .unionByName(cells.select(col("__b").as("__cat"),
        lit(null).cast("long").as("__rn"), col("__n").as("__cn")))
      .groupBy(col("__cat"))
      .agg(sum(col("__rn")).as("__ra"), sum(col("__cn")).as("__cb"))
    val grand = cats.agg(sort_array(collect_list(
      struct(col("__cat"), col("__ra"), col("__cb")))).as("__gs"))
    val pairs = grand
      .select(explode(col("__gs")).as("__i"), col("__gs"))
      .select(col("__i"), explode(col("__gs")).as("__j"))
    val deNum = pairs.agg(coalesce(sum(
      abs(col("__i.__cat") - col("__j.__cat")).cast(dec) *
        coalesce(col("__i.__ra"), lit(0L)).cast(dec) *
        coalesce(col("__j.__cb"), lit(0L)).cast(dec)), lit(0L).cast(dec))
      .as("__de"))
    val nD = col("__N").cast("double")
    val dObs = col("__do").cast("double") / nD
    val dExp = col("__de").cast("double") / (nD * nD)
    totals.crossJoin(broadcast(deNum))
      .select(col("__N").as("n"),
        round(dObs, 6).as("d_o"), round(dExp, 6).as("d_e"),
        when(dExp > 0.0, round(lit(1.0) - dObs / dExp, 6)).as("kappa_w"))
  }

  /** Gwet's AC1 — the agreement coefficient that survives the "kappa
    * paradox": when one category dominates, [[cohenKappa]]'s
    * marginal-product chance correction collapses κ toward 0 even for
    * raters who almost always agree; AC1's chance term
    *
    *   p_e = Σ_c π_c(1−π_c) / (K−1),   π_c = (r_c + c_c) / 2N
    *
    * stays calibrated. The number annotation vendors quote beside κ.
    * One row: `(n, po, pe_gamma, ac1)`; null when K < 2 or p_e = 1.
    * Rows with a null side drop.
    *
    * Determinism: exact cells and marginals; each π(1−π) term
    * nano-quantizes before the category-bounded sum; AC1 is one IEEE
    * tree.
    *
    * Scale shape: one cell aggregation + the [[cohenKappa]]
    * union-marginal trick; everything after is category-bounded.
    */
  def gwetAc1(df: DataFrame, a: Column, b: Column): DataFrame = {
    val cells = df.filter(a.isNotNull && b.isNotNull)
      .select(a.cast("string").as("__a"), b.cast("string").as("__b"))
      .groupBy(col("__a"), col("__b"))
      .agg(count(lit(1)).as("__n"))
    val totals = cells.agg(sum(col("__n")).as("__N"),
      sum(when(col("__a") === col("__b"), col("__n")).otherwise(0L)).as("__agree"))
    val cats = cells
      .select(col("__a").as("__cat"), col("__n").as("__rn"),
        lit(null).cast("long").as("__cn"))
      .unionByName(cells.select(col("__b").as("__cat"),
        lit(null).cast("long").as("__rn"), col("__n").as("__cn")))
      .groupBy(col("__cat"))
      .agg(sum(col("__rn")).as("__ra"), sum(col("__cn")).as("__cb"))
    val withN = cats.crossJoin(broadcast(totals.select(col("__N"))))
    val pi = (coalesce(col("__ra"), lit(0L)) + coalesce(col("__cb"), lit(0L)))
      .cast("double") / (lit(2.0) * col("__N").cast("double"))
    val term = round(pi * (lit(1.0) - pi) * lit(1e9), 0).cast("long")
    val peAgg = withN.agg(count(lit(1)).as("__K"), sum(term).as("__pt"))
    val j = totals.crossJoin(broadcast(peAgg))
    val nD = col("__N").cast("double")
    val po = col("__agree").cast("double") / nD
    val pe = col("__pt").cast("double") / lit(1e9) /
      (col("__K") - lit(1L)).cast("double")
    val ok = col("__K") >= 2 && pe =!= 1.0
    j.select(col("__N").as("n"),
      round(po, 6).as("po"),
      when(col("__K") >= 2, round(pe, 6)).as("pe_gamma"),
      when(ok, round((po - pe) / (lit(1.0) - pe), 6)).as("ac1"))
  }

  /** Mann-Whitney U (Wilcoxon rank-sum): the nonparametric two-sample
    * test — [[welchT]]'s sibling for skewed/ordinal data where means
    * mislead (latency, spend, token counts). Per group:
    * `(n_a, n_b, u_a_twice, tie_cubes, z)` where `u_a_twice = 2·U_a`
    * (U is half-integer under ties, so its DOUBLE is kept exact in a
    * long) and z is the normal approximation with the standard tie
    * correction
    *
    *   z = (U − n_a·n_b/2) / sqrt(n_a·n_b/12 · ((n+1) − Σ(t³−t)/(n(n−1))))
    *
    * Determinism: values micro-quantize to integers, the rank layer
    * collapses to one row per DISTINCT value (n_a, n per value), and
    * average ranks come from the identity 2·rank_avg = 2·cum_before +
    * n_v + 1 — every term an exact integer, so 2·R_a and the tie sum
    * are exact DECIMAL(38,0) accumulations under any partitioning; z is
    * one fixed IEEE tree at the end.
    *
    * Scale shape: one (groups, value)-keyed map-combined aggregation,
    * a cumulative window PARTITIONED BY the group keys whose frame
    * holds distinct VALUES (not rows — bounded by value cardinality),
    * and a final per-group rollup. No joins.
    *
    * @param inA / inB predicates tagging the two samples (rows matching
    *        neither drop; null values drop as in [[welchT]])
    */
  def mannWhitneyU(df: DataFrame, groupBy: Seq[String],
                   inA: Column, inB: Column, value: Column): DataFrame = {
    require(groupBy.nonEmpty,
      "mannWhitneyU needs group keys (use a constant column for a global test)")
    val dec = DecimalType(38, 0)
    def q(c: Column): Column = round(c * lit(1e6), 0).cast("long")
    val gCols = groupBy.map(col)
    val tagged = df.select(
        gCols :+ when(inA, lit("a")).when(inB, lit("b")).as("__g")
          :+ q(value).as("__x"): _*)
      .filter(col("__g").isNotNull && col("__x").isNotNull)
    // one row per (groups, distinct value): the rank layer
    val byVal = tagged
      .groupBy(gCols :+ col("__x"): _*)
      .agg(sum(when(col("__g") === "a", 1L).otherwise(0L)).as("__na_v"),
        count(lit(1)).as("__n_v"))
    val W = org.apache.spark.sql.expressions.Window
      .partitionBy(gCols: _*).orderBy(col("__x"))
    val cumBefore = coalesce(
      sum(col("__n_v")).over(W.rowsBetween(Long.MinValue, -1)), lit(0L))
    val ranked = byVal.select(
      gCols
        :+ col("__na_v") :+ col("__n_v")
        // 2·Σ_{rows of this value in a} rank_avg, exactly
        :+ (col("__na_v").cast(dec) *
            (lit(2L) * cumBefore + col("__n_v") + lit(1L)).cast(dec)).as("__r2")
        :+ ((col("__n_v").cast(dec) * col("__n_v") * col("__n_v"))
            - col("__n_v").cast(dec)).as("__t3"): _*)
    val agg = ranked.groupBy(gCols: _*)
      .agg(sum(col("__na_v")).as("__na"),
        sum(col("__n_v") - col("__na_v")).as("__nb"),
        sum(col("__r2")).as("__ra2"),
        sum(col("__t3")).as("__ties"))
    val naD = col("__na").cast("double")
    val nbD = col("__nb").cast("double")
    val nD = naD + nbD
    // 2·U_a = 2·R_a − n_a(n_a+1), exact in decimal then long
    val u2 = (col("__ra2") - (col("__na").cast(dec) * (col("__na") + lit(1L)).cast(dec)))
    val uA = u2.cast("double") / lit(2.0)
    val varU = naD * nbD / lit(12.0) *
      ((nD + lit(1.0)) - col("__ties").cast("double") / (nD * (nD - lit(1.0))))
    val z = (uA - naD * nbD / lit(2.0)) / sqrt(varU)
    agg.select(
      gCols
        :+ col("__na").as("n_a") :+ col("__nb").as("n_b")
        :+ u2.cast("long").as("u_a_twice")
        :+ col("__ties").cast("long").as("tie_cubes")
        :+ when(col("__na") >= 1 && col("__nb") >= 1 && varU > 0.0, round(z, 6))
          .as("z"): _*)
  }

  /** Cliff's delta — the EFFECT SIZE beside [[mannWhitneyU]]'s
    * significance: δ = (#{a>b} − #{a<b}) / (n_a·n_b) over all cross
    * pairs, the probability a random A value beats a random B value
    * minus the reverse. Reported wherever rank-sum tests are (latency
    * comparisons, spend distributions) because z grows with n while δ
    * answers "by how much, distribution-free" — ±0.147/0.33/0.474 are
    * the conventional small/medium/large fences.
    *
    * NOT an all-pairs operator: the pair counts collapse onto the
    * distinct-value table. With a_v/b_v = per-value sample counts and
    * cumA/cumB = counts strictly below v,
    *
    *   #{a>b} = Σ_v a_v·cumB(v)    #{a<b} = Σ_v b_v·cumA(v)
    *
    * — both exact DECIMAL(38,0) sums (n_a·n_b overflows BIGINT past
    * ~3×10⁹ rows/side), so δ is ONE IEEE division at the end.
    *
    * Determinism: values micro-quantize; the distinct-value layer and
    * the two cumulative windows are the [[mannWhitneyU]] rank plumbing
    * exactly, so every count is engine-exact.
    *
    * Scale shape: one (groups, value)-keyed map-combined aggregation,
    * two cumulative windows over distinct VALUES (bounded by value
    * cardinality, never rows), one per-group rollup. No joins, no pair
    * materialization.
    *
    * @return (groups..., n_a, n_b, gt_pairs, lt_pairs, delta), 6 dp
    */
  def cliffsDelta(df: DataFrame, groupBy: Seq[String],
                  inA: Column, inB: Column, value: Column): DataFrame = {
    require(groupBy.nonEmpty,
      "cliffsDelta needs group keys (use a constant column for a global test)")
    val dec = DecimalType(38, 0)
    def q(c: Column): Column = round(c * lit(1e6), 0).cast("long")
    val gCols = groupBy.map(col)
    val tagged = df.select(
        gCols :+ when(inA, lit("a")).when(inB, lit("b")).as("__g")
          :+ q(value).as("__x"): _*)
      .filter(col("__g").isNotNull && col("__x").isNotNull)
    val byVal = tagged
      .groupBy(gCols :+ col("__x"): _*)
      .agg(sum(when(col("__g") === "a", 1L).otherwise(0L)).as("__a_v"),
        sum(when(col("__g") === "b", 1L).otherwise(0L)).as("__b_v"))
    val W = org.apache.spark.sql.expressions.Window
      .partitionBy(gCols: _*).orderBy(col("__x")).rowsBetween(Long.MinValue, -1)
    val cumA = coalesce(sum(col("__a_v")).over(W), lit(0L))
    val cumB = coalesce(sum(col("__b_v")).over(W), lit(0L))
    val agg = byVal
      .select(gCols
        :+ col("__a_v") :+ col("__b_v")
        :+ (col("__a_v").cast(dec) * cumB.cast(dec)).as("__gt")
        :+ (col("__b_v").cast(dec) * cumA.cast(dec)).as("__lt"): _*)
      .groupBy(gCols: _*)
      .agg(sum(col("__a_v")).cast(dec).as("__na"),
        sum(col("__b_v")).cast(dec).as("__nb"),
        sum(col("__gt")).as("__gts"), sum(col("__lt")).as("__lts"))
    val pairs = (col("__na") * col("__nb")).cast("double")
    val deltaN = (col("__gts") - col("__lts")).cast("double")
    agg.select(gCols
      :+ col("__na").cast("long").as("n_a")
      :+ col("__nb").cast("long").as("n_b")
      :+ col("__gts").cast("long").as("gt_pairs")
      :+ col("__lts").cast("long").as("lt_pairs")
      :+ when(col("__na") > 0 && col("__nb") > 0, round(deltaN / pairs, 6))
        .as("delta"): _*)
  }

  /** Deterministic Poisson bootstrap CI for a grouped mean — the
    * resampling trick that makes bootstrap work at 100 TB (Chamandy et
    * al., "Estimating Uncertainty for Massive Data Streams"): instead
    * of materializing B resamples, each row draws its per-replicate
    * multiplicity c ~ Poisson(1) from a SEEDED md5 hash (inverse-CDF
    * ladder on a uniform from the first 8 hex chars — the repo's
    * md5-selection convention, so replicas are reproducible on any
    * engine with no RNG state), and replicate means come from one
    * grouped aggregation over the row×replicate explode.
    *
    * Returns `(groups..., n, n_replicates, mean, boot_se, ci_lo,
    * ci_hi)`, 6 dp: mean is the exact decimal point estimate; boot_se
    * the stddev of the replicate means (each nano-quantized before the
    * cross-replicate moments, so the SE is exact integer arithmetic
    * until two final IEEE steps); ci = mean ± 1.96·se. Replicates that
    * draw zero total count (tiny groups) drop from the SE, with
    * `n_replicates` reporting the survivors; fewer than 2 survivors
    * emit null se/ci.
    *
    * Scale shape: one `replicates`-way row explode (the method's
    * price — B=32 means reading 32× rows through one map-combined
    * (groups, replicate) aggregation), a replicate-count-bounded
    * rollup, and a group-keyed join against the exact point estimate.
    * No global state, no driver-side resampling.
    *
    * PRECONDITION: `keyCol` must uniquely identify rows. The Poisson
    * draw is md5(seed, key, replicate) — rows sharing a key value get
    * perfectly correlated multiplicities across every replicate, which
    * biases boot_se downward (the duplicates resample as one unit).
    * Callers with non-unique ids should pre-derive a unique key (e.g.
    * concat of natural keys) before calling.
    */
  def poissonBootstrapMeanCI(df: DataFrame, groupBy: Seq[String], keyCol: String,
                             value: Column, replicates: Int = 32,
                             seed: String = "boot"): DataFrame = {
    require(groupBy.nonEmpty, "poissonBootstrapMeanCI needs group keys")
    require(replicates >= 2 && replicates <= 256,
      s"replicates out of range: $replicates")
    val dec = DecimalType(38, 0)
    val gCols = groupBy.map(col)
    val x = round(value * lit(1e6), 0).cast("long")
    val base = df.select(gCols :+ col(keyCol).as("__k") :+ x.as("__x"): _*)
      .filter(col("__x").isNotNull)
    // exact point estimate: one plain aggregation
    val point = base.groupBy(gCols: _*)
      .agg(count(lit(1)).as("n"), sum(col("__x").cast(dec)).as("__sx"))
    // Poisson(1) inverse CDF: P(X <= k) thresholds, enough mass for a
    // 1-in-3e6 tail at the cap
    val thresholds = Seq(
      0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
      0.9810118431238462, 0.9963401531726563, 0.9994058151824183,
      0.9999167588507119, 0.9999897508033253)
    val exploded = base
      .select(gCols :+ col("__k") :+ col("__x")
        :+ explode(sequence(lit(0), lit(replicates - 1))).as("__r"): _*)
    val bucket = conv(substring(md5(concat_ws(":",
        lit(seed), col("__k").cast("string"), col("__r").cast("string"))
        .cast("binary")), 1, 8), 16, 10).cast("long")
    val u = bucket.cast("double") / lit(4294967296.0)
    val c = thresholds.zipWithIndex
      .foldRight(lit(thresholds.size.toLong)) { case ((t, k), rest) =>
        when(u < t, k.toLong).otherwise(rest)
      }
    val perRep = exploded
      .withColumn("__c", c)
      .groupBy(gCols :+ col("__r"): _*)
      .agg(sum(col("__c")).as("__sc"),
        sum(col("__c").cast(dec) * col("__x").cast(dec)).as("__cx"))
      // replicate mean in exact value-nanos (sx·1e3/sc: x is micros)
      .withColumn("__m",
        when(col("__sc") > 0L,
          round(col("__cx").cast("double") / col("__sc").cast("double") * lit(1e3), 0)
            .cast(dec)))
    val boot = perRep.groupBy(gCols: _*)
      .agg(sum(when(col("__m").isNotNull, 1L).otherwise(0L)).as("n_replicates"),
        sum(col("__m")).as("__sm"),
        sum(col("__m") * col("__m")).as("__sm2"))
    val rD = col("n_replicates").cast("double")
    val se = sqrt((rD * col("__sm2").cast("double")
      - col("__sm").cast("double") * col("__sm").cast("double"))
      / (rD * (rD - lit(1.0)))) / lit(1e9)
    val mean = col("__sx").cast("double") / col("n").cast("double") / lit(1e6)
    point.join(boot, groupBy)
      .select(gCols :+ col("n") :+ col("n_replicates")
        :+ round(mean, 6).as("mean")
        :+ when(col("n_replicates") >= 2L, round(se, 6)).as("boot_se")
        :+ when(col("n_replicates") >= 2L, round(mean - lit(1.96) * se, 6)).as("ci_lo")
        :+ when(col("n_replicates") >= 2L, round(mean + lit(1.96) * se, 6)).as("ci_hi"): _*)
  }

  /** Per-cell ADJUSTED residuals for the chi-square table — the
    * follow-up [[chiSquareIndependence]] demands ("the columns are
    * associated" is useless until you know WHICH cells deviate):
    *
    *   r_ab = (o − e) / sqrt(e·(1 − row/N)·(1 − col/N)),  e = row·col/N
    *
    * (Haberman's adjusted residuals — asymptotically N(0,1), so |r| > 2
    * flags a cell). One row per observed cell:
    * `(a, b, n_obs, expected, resid)`, 6 dp; degenerate margins (a
    * single row or column category makes the variance 0) emit null
    * resid rather than ±Inf.
    *
    * Determinism: counts and marginals are exact longs (windows over
    * the cell table — the chi2 shape); each residual is one fixed IEEE
    * tree per cell, no cross-cell accumulation at all.
    *
    * Scale shape: one (a,b)-keyed map-combined exchange, marginal
    * windows, a 1-row broadcast total. No joins.
    */
  def chiSquareResiduals(df: DataFrame, a: Column, b: Column): DataFrame = {
    val cells = df.select(a.as("__a"), b.as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull)
      .groupBy(col("__a"), col("__b"))
      .agg(count(lit(1)).as("__n"))
    val W = org.apache.spark.sql.expressions.Window
    val ra = sum(col("__n")).over(W.partitionBy(col("__a")))
    val cb = sum(col("__n")).over(W.partitionBy(col("__b")))
    val totals = cells.agg(sum(col("__n")).as("__tot"))
    val nD = col("__tot").cast("double")
    val e = ra.cast("double") * cb.cast("double") / nD
    val varTerm = e * (lit(1.0) - ra.cast("double") / nD) *
      (lit(1.0) - cb.cast("double") / nD)
    cells.crossJoin(broadcast(totals))
      .select(col("__a").as("a"), col("__b").as("b"),
        col("__n").as("n_obs"),
        round(e, 6).as("expected"),
        when(varTerm > 0.0,
          round((col("__n").cast("double") - e) / sqrt(varTerm), 6)).as("resid"))
  }

  /** Mutual information between two categorical columns — the
    * information-theoretic sibling of [[chiSquareIndependence]] (how
    * MANY bits does knowing A tell you about B, not just "are they
    * associated"): one row `(n, h_a, h_b, mi, nmi)`, nats, 6 dp, with
    * NMI = MI/sqrt(H_a·H_b) (null when either entropy is 0 — a
    * constant column carries no information to normalize by).
    *
    * Determinism: cell/marginal counts are exact longs (marginals as
    * windows over the cell table — the chi2 shape); every ln takes an
    * INTEGER argument (ln(N·c_ab) − ln(r_a·c_b), the dialect-portable
    * doctrine) and each term nano-quantizes BEFORE the cell sum.
    * Entropies come from Σ c·ln(c) the same way.
    *
    * Scale shape: one (a,b)-keyed map-combined exchange to the cell
    * table; marginal windows, one grand agg, a 1-row broadcast — no
    * joins. Null categories drop as in chi2.
    */
  def mutualInformation(df: DataFrame, a: Column, b: Column): DataFrame = {
    val cells = df.select(a.as("__a"), b.as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull)
      .groupBy(col("__a"), col("__b"))
      .agg(count(lit(1)).as("__n"))
    val W = org.apache.spark.sql.expressions.Window
    val ra = sum(col("__n")).over(W.partitionBy(col("__a")))
    val cb = sum(col("__n")).over(W.partitionBy(col("__b")))
    val totals = cells.agg(sum(col("__n")).as("__tot"))
    // per-cell: (c/N)·(ln(N·c) − ln(ra·cb)), nano-quantized; the N
    // division rides inside the term so the sum stays cell-local
    val termNano = round(col("__n").cast("double") / col("__tot").cast("double")
      * (log(col("__tot") * col("__n")) - log(ra * cb)) * lit(1e9), 0).cast("long")
    // marginal-entropy terms: Σ m·ln(m) per side, nano-quantized once
    // per DISTINCT marginal (guarded by a first-row flag so the window
    // value isn't double-counted across a marginal's cells)
    val firstA = row_number().over(W.partitionBy(col("__a")).orderBy(col("__b"))) === 1
    val firstB = row_number().over(W.partitionBy(col("__b")).orderBy(col("__a"))) === 1
    def mlnm(m: Column): Column =
      round(m.cast("double") * log(m) * lit(1e9), 0).cast("long")
    val enriched = cells
      .crossJoin(broadcast(totals)) // 1-row scalar attach BEFORE __tot is referenced
      .withColumn("__t", termNano)
      .withColumn("__ea", when(firstA, mlnm(ra)).otherwise(0L))
      .withColumn("__eb", when(firstB, mlnm(cb)).otherwise(0L))
    val agg = enriched.groupBy(col("__tot"))
      .agg(sum(col("__t")).as("__mi"),
        sum(col("__ea")).as("__sa"), sum(col("__eb")).as("__sb"))
    val nD = col("__tot").cast("double")
    val mi = col("__mi").cast("double") / lit(1e9)
    def h(s: Column): Column = log(col("__tot")) - s.cast("double") / lit(1e9) / nD
    val hA = h(col("__sa"))
    val hB = h(col("__sb"))
    // the zero-entropy guard reads the ROUNDED values (the emitted
    // contract): unrounded hA carries nano-quantization residue that
    // makes an exactly-zero entropy test as 1e-10 > 0
    agg.select(col("__tot").as("n"),
      round(hA, 6).as("h_a"), round(hB, 6).as("h_b"),
      round(mi, 6).as("mi"),
      when(round(hA, 6) > 0.0 && round(hB, 6) > 0.0,
        round(mi / sqrt(hA * hB), 6)).as("nmi"))
  }

  /** Benjamini-Hochberg FDR correction over a TESTS table — the
    * multiple-testing step every fan-out of per-segment tests
    * ([[mannWhitneyU]], [[welchT]], [[graft.ops.Drift.ksStatisticGrouped]])
    * needs before anyone acts on "segment 7 is significant":
    *
    *   q_(i) = min_{j ≥ i} ( m·p_(j) / j ),  capped at 1
    *
    * appended as `(bh_rank, bh_q, bh_reject)` with reject ⇔ q ≤ alpha —
    * the step-up procedure stated monotonically (the suffix min IS the
    * step-up). Ranks come from row_number over (p, tieBreak...), so tied
    * p-values order deterministically; q rounds to 6 dp and the flag
    * compares the ROUNDED value (oracle-identical).
    *
    * Scale shape: two whole-frame windows (rank + suffix min) — over
    * the TESTS table, which is bounded by the number of hypotheses (one
    * row per test), never by data size; the m count rides the same
    * frames. This is the documented-bound whole-frame exception, not
    * the raw-row cliff.
    *
    * Null p-values (a test whose statistic was undefined, e.g. a
    * one-sided KS group) are NOT hypotheses: they sort after every real
    * test, are excluded from m, and emit null (bh_rank, bh_q,
    * bh_reject) — they can never be rejected and never inflate another
    * test's q.
    */
  def benjaminiHochberg(df: DataFrame, pCol: Column, alpha: Double,
                        tieBreak: Seq[Column], yekutieli: Boolean = false): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0,1): $alpha")
    require(tieBreak.nonEmpty,
      "pass tie-break columns (a test id) — tied p-values need a deterministic order")
    val W = org.apache.spark.sql.expressions.Window
    val pv = pCol.cast("double")
    val wRank = W.orderBy(pv.asc_nulls_last +: tieBreak.map(_.asc): _*)
    val wAll = W.rowsBetween(Long.MinValue, Long.MaxValue)
    val prelim = df
      .withColumn("__pv", pv)
      .withColumn("__i", row_number().over(wRank).cast("long"))
      .withColumn("__m", count(col("__pv")).over(wAll))
    // Benjamini-Yekutieli: inflate m by the harmonic number H(m) =
    // Σ 1/i over the ranked non-null tests — valid under ARBITRARY
    // dependence where plain BH assumes positive dependence. Each 1/i
    // nano-quantizes so H is an exact integer sum (order-free).
    val withH =
      if (!yekutieli) prelim.withColumn("__h", lit(1.0))
      else prelim.withColumn("__h",
        sum(when(col("__pv").isNotNull,
          round(lit(1e9) / col("__i").cast("double"), 0).cast("long")))
          .over(wAll).cast("double") / lit(1e9))
    val ranked = withH
      .withColumn("__qraw", when(col("__pv").isNotNull,
        col("__m").cast("double") * col("__h") * col("__pv")
          / col("__i").cast("double")))
    val wSuffix = W.orderBy(col("__i")).rowsBetween(0, Long.MaxValue)
    ranked
      .withColumn("bh_q", when(col("__pv").isNotNull,
        round(least(lit(1.0), min(col("__qraw")).over(wSuffix)), 6)))
      .withColumn("bh_rank", when(col("__pv").isNotNull, col("__i")))
      .withColumn("bh_reject", when(col("__pv").isNotNull, col("bh_q") <= alpha))
      .drop("__pv", "__i", "__m", "__h", "__qraw")
  }

  /** Holm-Bonferroni step-down correction over a TESTS table —
    * [[benjaminiHochberg]]'s family-wise cousin: controls the
    * probability of even ONE false rejection (FWER) with no dependence
    * assumption at all, at the cost of less power than FDR control:
    *
    *   p̃_(i) = max_{j ≤ i} min(1, (m−j+1)·p_(j))
    *
    * appended as `(holm_rank, holm_adj, holm_reject)` with reject ⇔
    * p̃ ≤ alpha — the step-down stated monotonically (the prefix max IS
    * the step-down). Null p-values follow the [[benjaminiHochberg]]
    * contract: excluded from m, sorted last, never rejected.
    *
    * Scale shape: the same two bounded whole-frame windows as BH (rank
    * + prefix max) over the hypothesis-count-sized tests table.
    */
  def holmBonferroni(df: DataFrame, pCol: Column, alpha: Double,
                     tieBreak: Seq[Column]): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0,1): $alpha")
    require(tieBreak.nonEmpty,
      "pass tie-break columns (a test id) — tied p-values need a deterministic order")
    val W = org.apache.spark.sql.expressions.Window
    val pv = pCol.cast("double")
    val wRank = W.orderBy(pv.asc_nulls_last +: tieBreak.map(_.asc): _*)
    val wAll = W.rowsBetween(Long.MinValue, Long.MaxValue)
    val ranked = df
      .withColumn("__pv", pv)
      .withColumn("__i", row_number().over(wRank).cast("long"))
      .withColumn("__m", count(col("__pv")).over(wAll))
      .withColumn("__araw", when(col("__pv").isNotNull,
        (col("__m") - col("__i") + lit(1L)).cast("double") * col("__pv")))
    val wPrefix = W.orderBy(col("__i")).rowsBetween(Long.MinValue, 0)
    ranked
      .withColumn("holm_adj", when(col("__pv").isNotNull,
        round(least(lit(1.0), max(col("__araw")).over(wPrefix)), 6)))
      .withColumn("holm_rank", when(col("__pv").isNotNull, col("__i")))
      .withColumn("holm_reject", when(col("__pv").isNotNull,
        col("holm_adj") <= alpha))
      .drop("__pv", "__i", "__m", "__araw")
  }

  /** One-way random-effects intraclass correlation ICC(1) — "how much
    * of the variance is BETWEEN groups?", the reliability/clustering
    * coefficient behind design effects and rater agreement:
    *
    *   ICC = (MSB − MSW) / (MSB + (k₀ − 1)·MSW),
    *   k₀  = (N − Σn_g²/N)/(G−1)   (the unequal-size correction)
    *
    * Returns 1 row `(k, n, k0, ms_between, ms_within, icc)`, 6 dp; icc
    * null when G < 2, N ≤ G, or the denominator is 0.
    *
    * Determinism: SSB/SSW are [[anovaOneWay]]'s nano-quantized
    * per-group terms (exact integer cross-group sums); Σn_g² stays
    * DECIMAL; k₀ and the ICC are fixed IEEE trees on those integers.
    *
    * Scale shape: [[anovaOneWay]]'s — one group-keyed aggregation, a
    * 1-row broadcast, a k-row rollup.
    */
  def iccOneWay(df: DataFrame, groupCol: Column, value: Column): DataFrame = {
    val dec = DecimalType(38, 0)
    def q(c: Column): Column = round(c * lit(1e6), 0).cast(dec)
    val base = df.select(groupCol.as("__g"), q(value).as("__x"))
      .filter(col("__g").isNotNull && col("__x").isNotNull)
    val perGroup = base.groupBy(col("__g"))
      .agg(count(lit(1)).as("__ng"),
        sum(col("__x")).as("__sg"),
        sum(col("__x") * col("__x")).as("__ssg"))
    val grand = perGroup.agg(count(lit(1)).as("__k"),
      sum(col("__ng")).as("__n"), sum(col("__sg")).as("__s"))
    val ngD = col("__ng").cast("double")
    val meanG = col("__sg").cast("double") / ngD / lit(1e6)
    val meanAll = col("__s").cast("double") / col("__n").cast("double") / lit(1e6)
    val termB = round(ngD * (meanG - meanAll) * (meanG - meanAll) * lit(1e9), 0)
      .cast("long")
    val termW = round((col("__ng").cast(dec) * col("__ssg") - col("__sg") * col("__sg"))
      .cast("double") / ngD / lit(1e12) * lit(1e9), 0).cast("long")
    val rolled = perGroup.crossJoin(broadcast(grand))
      .select(col("__k"), col("__n"), col("__ng").cast(dec).as("__ngd"),
        termB.as("__tb"), termW.as("__tw"))
      .groupBy(col("__k"), col("__n"))
      .agg(sum(col("__tb")).as("__ssb"), sum(col("__tw")).as("__ssw"),
        sum(col("__ngd") * col("__ngd")).as("__sn2"))
    val kD = col("__k").cast("double")
    val nD = col("__n").cast("double")
    val msb = col("__ssb").cast("double") / lit(1e9) / (kD - lit(1.0))
    val msw = col("__ssw").cast("double") / lit(1e9) / (nD - kD)
    val k0 = (nD - col("__sn2").cast("double") / nD) / (kD - lit(1.0))
    val den = msb + (k0 - lit(1.0)) * msw
    val ok = col("__k") >= 2 && col("__n") > col("__k")
    rolled.select(
      col("__k").as("k"), col("__n").as("n"),
      when(ok, round(k0, 6)).as("k0"),
      when(ok, round(msb, 6)).as("ms_between"),
      when(ok, round(msw, 6)).as("ms_within"),
      when(ok && den =!= 0.0, round((msb - msw) / den, 6)).as("icc"))
  }

  /** One-way ANOVA F — "do these k group means differ?" in one pass
    * (the k-sample generalization of [[welchT]]'s two): one row
    * `(k, n, ss_between, ss_within, f)`, 6 dp, with
    *
    *   F = (SSB/(k−1)) / (SSW/(n−k)).
    *
    * Determinism: per-group (n_g, Σx, Σx²) accumulate as micro-
    * quantized DECIMAL(38,0); each group's SSB/SSW term is a fixed IEEE
    * tree over those exact integers, nano-quantized BEFORE the
    * cross-group sum (the chi2 discipline — a raw double Σ over groups
    * would be partition-order-dependent). F is null when k < 2, n ≤ k,
    * or SSW is 0 (no within-group variance to test against).
    *
    * Scale shape: one (group)-keyed map-combined aggregation, a 1-row
    * broadcast of the grand moments, one k-row rollup. Null values and
    * null groups drop.
    */
  def anovaOneWay(df: DataFrame, groupCol: Column, value: Column): DataFrame = {
    val dec = DecimalType(38, 0)
    def q(c: Column): Column = round(c * lit(1e6), 0).cast(dec)
    val base = df.select(groupCol.as("__g"), q(value).as("__x"))
      .filter(col("__g").isNotNull && col("__x").isNotNull)
    val perGroup = base.groupBy(col("__g"))
      .agg(count(lit(1)).as("__ng"),
        sum(col("__x")).as("__sg"),
        sum(col("__x") * col("__x")).as("__ssg"))
    val grand = perGroup.agg(count(lit(1)).as("__k"),
      sum(col("__ng")).as("__n"), sum(col("__sg")).as("__s"))
    val ngD = col("__ng").cast("double")
    val meanG = col("__sg").cast("double") / ngD / lit(1e6)
    val meanAll = col("__s").cast("double") / col("__n").cast("double") / lit(1e6)
    // per-group terms in value² units, nano-quantized before the k-sum
    val termB = round(ngD * (meanG - meanAll) * (meanG - meanAll) * lit(1e9), 0)
      .cast("long")
    val termW = round((col("__ng").cast(dec) * col("__ssg") - col("__sg") * col("__sg"))
      .cast("double") / ngD / lit(1e12) * lit(1e9), 0).cast("long")
    val rolled = perGroup.crossJoin(broadcast(grand))
      .select(col("__k"), col("__n"), termB.as("__tb"), termW.as("__tw"))
      .groupBy(col("__k"), col("__n"))
      .agg(sum(col("__tb")).as("__ssb"), sum(col("__tw")).as("__ssw"))
    val ssb = col("__ssb").cast("double") / lit(1e9)
    val ssw = col("__ssw").cast("double") / lit(1e9)
    val kD = col("__k").cast("double")
    val nD = col("__n").cast("double")
    val f = (ssb / (kD - lit(1.0))) / (ssw / (nD - kD))
    rolled.select(
      col("__k").as("k"), col("__n").as("n"),
      round(ssb, 6).as("ss_between"), round(ssw, 6).as("ss_within"),
      when(col("__k") >= 2 && col("__n") > col("__k") && col("__ssw") > 0L,
        round(f, 6)).as("f"),
      // eta² effect size: the variance share the grouping explains —
      // F says "significant", eta² says "by how much"
      when(col("__ssb") + col("__ssw") > 0L,
        round(ssb / (ssb + ssw), 6)).as("eta_sq"))
  }

  /** Concentration metrics per group — the "is this market/corpus/
    * shard dominated by a few entities" screen (source concentration in
    * a training mix, supplier dependence, vendor risk): per-entity
    * value shares s_i = v_i/Σv fold into
    *
    *   HHI  = Σ s_i²  (1/n .. 1; the antitrust index),  top_share,
    *   Gini = Σ_i (2i − n − 1)·x_(i) / (n·Σx)   (0 = equal, →1 = one
    *          entity holds everything; the inequality complement — HHI
    *          reacts to the head, Gini to the whole curve)
    *
    * Returns `(groups..., n_entities, total, hhi, top_share, gini)`,
    * 6 dp.
    *
    * Determinism: per-entity values accumulate as micro-quantized
    * DECIMAL(38,0); HHI's Σ v_i² / (Σ v_i)² and Gini's rank-weighted
    * sum (2·Σ i·x_(i) − (n+1)·Σx — ranks by (value, entity), and tied
    * values make the weighted sum order-invariant within the tie) are
    * exact decimal integer arithmetic with one IEEE division each.
    *
    * Scale shape: one (groups, entity)-keyed map-combined aggregation
    * (the only data-sized exchange), one group-partitioned sort window
    * over ENTITY rows for the Gini ranks, then a group-keyed rollup.
    */
  def concentration(df: DataFrame, groupBy: Seq[String], entityCol: String,
                    value: Column): DataFrame = {
    require(groupBy.nonEmpty, "concentration needs group keys")
    val dec = DecimalType(38, 0)
    val gCols = groupBy.map(col)
    val q = round(value * lit(1e6), 0).cast(dec)
    val perEntity = df
      .select(gCols :+ col(entityCol).as("__e") :+ q.as("__v"): _*)
      .filter(col("__v").isNotNull)
      .groupBy(gCols :+ col("__e"): _*)
      .agg(sum(col("__v")).as("__r"))
    val W = org.apache.spark.sql.expressions.Window
      .partitionBy(gCols: _*).orderBy(col("__r"), col("__e"))
    val ranked = perEntity
      .withColumn("__i", row_number().over(W).cast("long").cast(dec))
    val agg = ranked.groupBy(gCols: _*)
      .agg(count(lit(1)).as("n_entities"),
        sum(col("__r")).as("__t"),
        sum(col("__r") * col("__r")).as("__t2"),
        max(col("__r")).as("__mx"),
        sum(col("__i") * col("__r")).as("__ir"))
    val tD = col("__t").cast("double")
    val nDec = col("n_entities").cast(dec)
    val giniNum = (lit(2).cast(dec) * col("__ir") - (nDec + lit(1)) * col("__t"))
    agg.select(
      gCols :+ col("n_entities")
        :+ round(tD / lit(1e6), 6).as("total")
        :+ round(col("__t2").cast("double") / (tD * tD), 6).as("hhi")
        :+ round(col("__mx").cast("double") / tD, 6).as("top_share")
        :+ round(giniNum.cast("double") / (col("n_entities").cast("double") * tD), 6)
          .as("gini"): _*)
  }

  /** Two-proportion z-test — the A/B conversion comparison
    * ([[proportionCi]] gives each arm's interval; this tests the
    * DIFFERENCE with the pooled standard error):
    *
    *   z = (p̂_a − p̂_b) / sqrt( p̂(1−p̂)(1/n_a + 1/n_b) ),
    *   p̂ = (x_a + x_b)/(n_a + n_b)
    *
    * One row `(n_a, x_a, n_b, x_b, p_a, p_b, z)`, 6 dp; z null when
    * either arm is empty or the pooled variance is 0 (all successes or
    * all failures — nothing to test).
    *
    * Determinism: counts are exact longs from ONE grand conditional
    * aggregation (the [[welchT]] shape — single pass, single reduce,
    * no join); z is one fixed IEEE tree over them.
    */
  def twoProportionZ(df: DataFrame, inA: Column, inB: Column,
                     success: Column): DataFrame = {
    val tagged = df.select(
      when(inA, lit("a")).when(inB, lit("b")).as("__g"),
      when(success, 1L).otherwise(0L).as("__s"))
      .filter(col("__g").isNotNull)
    val g = col("__g")
    val m = tagged.agg(
      sum(when(g === "a", 1L).otherwise(0L)).as("__na"),
      sum(when(g === "a", col("__s")).otherwise(0L)).as("__xa"),
      sum(when(g === "b", 1L).otherwise(0L)).as("__nb"),
      sum(when(g === "b", col("__s")).otherwise(0L)).as("__xb"))
    val naD = col("__na").cast("double")
    val nbD = col("__nb").cast("double")
    val pa = col("__xa").cast("double") / naD
    val pb = col("__xb").cast("double") / nbD
    val pPool = (col("__xa") + col("__xb")).cast("double") /
      (col("__na") + col("__nb")).cast("double")
    val varPool = pPool * (lit(1.0) - pPool) * (lit(1.0) / naD + lit(1.0) / nbD)
    m.select(
      col("__na").as("n_a"), col("__xa").as("x_a"),
      col("__nb").as("n_b"), col("__xb").as("x_b"),
      round(pa, 6).as("p_a"), round(pb, 6).as("p_b"),
      when(col("__na") >= 1 && col("__nb") >= 1 && varPool > 0.0,
        round((pa - pb) / sqrt(varPool), 6)).as("z"))
  }

  /** Kendall's tau-b per group — the third leg of the correlation
    * triple (Pearson `corrExact` / [[spearman]] / tau): concordant-
    * minus-discordant pair counting with the tie-corrected denominator,
    *
    *   tau_b = (C − D) / sqrt((n0 − n1)(n0 − n2)),  n0 = n(n−1)/2,
    *
    * where C − D = Σ_pairs sign(Δx)·sign(Δy) — exact integers
    * throughout (the sign product is −1/0/+1), one IEEE division at
    * the end. With x = time, C − D IS the Mann-Kendall S statistic, so
    * this row doubles as the standard monotone-trend test. Returns
    * `(groups..., n, concordant, discordant, tau_b)`, 6 dp; tau_b null
    * when either tie-corrected denominator term is 0. Groups with
    * fewer than 2 rows still emit their row (n, 0, 0, null) — the pair
    * aggregate left-joins onto a per-group row-count frame, the same
    * contract [[theilSen]] keeps.
    *
    * Scale: pair enumeration is QUADRATIC in group size by definition —
    * this is the bounded-group operator (per-series panels, daily
    * aggregates); for large groups use [[spearman]], which answers the
    * monotone-association question in one sort. The self-join is a
    * group-key equi-join (never a cross product), so the plan is safe;
    * the row count is what scales as Σ|group|².
    */
  def kendallTau(df: DataFrame, groupBy: Seq[String],
                 x: Column, y: Column): DataFrame = {
    require(groupBy.nonEmpty, "kendallTau needs group keys")
    val dec = DecimalType(38, 0)
    def q(c: Column): Column = round(c * lit(1e6), 0).cast("long")
    val gCols = groupBy.map(col)
    val W = org.apache.spark.sql.expressions.Window.partitionBy(gCols: _*)
    val base = df.select(gCols :+ q(x).as("__x") :+ q(y).as("__y"): _*)
      .filter(col("__x").isNotNull && col("__y").isNotNull)
      .withColumn("__i", row_number().over(W.orderBy(col("__x"), col("__y"))))
    val a = base.toDF(base.columns.map(c => if (c.startsWith("__")) s"${c}_a" else c): _*)
    val b = base.toDF(base.columns.map(c => if (c.startsWith("__")) s"${c}_b" else c): _*)
    val pairs = a.join(b, groupBy).filter(col("__i_a") < col("__i_b"))
      .select(gCols
        :+ (signum(col("__x_b") - col("__x_a")).cast("long") *
            signum(col("__y_b") - col("__y_a")).cast("long")).as("__s")
        :+ when(col("__x_a") === col("__x_b"), 1L).otherwise(0L).as("__tx")
        :+ when(col("__y_a") === col("__y_b"), 1L).otherwise(0L).as("__ty"): _*)
    val agg = pairs.groupBy(gCols: _*)
      .agg(count(lit(1)).as("__n0"),
        sum(col("__s")).as("__cd"),
        sum(when(col("__s") === 1L, 1L).otherwise(0L)).as("__conc"),
        sum(when(col("__s") === -1L, 1L).otherwise(0L)).as("__disc"),
        sum(col("__tx")).as("__n1"),
        sum(col("__ty")).as("__n2"))
    val d1 = (col("__n0") - col("__n1")).cast("double")
    val d2 = (col("__n0") - col("__n2")).cast("double")
    // left-join from the row-count frame so 1-row groups (no pairs)
    // still emit (n, 0, 0, null) instead of vanishing
    val counts = base.groupBy(gCols: _*).agg(count(lit(1)).as("n"))
    counts.join(agg, groupBy, "left").select(
      gCols :+ col("n")
        :+ coalesce(col("__conc"), lit(0L)).as("concordant")
        :+ coalesce(col("__disc"), lit(0L)).as("discordant")
        :+ when(d1 > 0.0 && d2 > 0.0,
          round(col("__cd").cast("double") / sqrt(d1 * d2), 6)).as("tau_b"): _*)
  }

  /** Theil-Sen robust slope per group — the median of all pairwise
    * slopes (breakdown point 29%, vs OLS's single-outlier failure;
    * [[graft.ops.Regression.groupOls]]'s robust sibling, with
    * [[kendallTau]]'s pair scaffolding):
    *
    *   slope = median_{i<j, x_i ≠ x_j} (y_j − y_i)/(x_j − x_i)
    *   intercept = median_i (y_i − slope·x_i)
    *
    * Pairwise slopes quantize to integer NANOS before ranking, so the
    * median pick (and its even-count midpoint, exact in half-nanos) is
    * bit-deterministic; the intercept pass re-ranks nano-quantized
    * residuals the same way. Returns
    * `(groups..., n, n_pairs, slope, intercept)`, 6 dp; groups with no
    * x-varying pair emit null slope/intercept.
    *
    * Scale: pair enumeration is QUADRATIC in group size — the same
    * bounded-group contract as [[kendallTau]] (per-series panels); for
    * large groups use OLS with robust pre-filtering. All joins are
    * group-key equi-joins; both medians are group-partitioned sort
    * windows. Range note: slopes beyond ~9e9 value-units per x-unit
    * overflow the nano quantization (ANSI raises rather than
    * corrupting) — rescale x for near-vertical data.
    */
  def theilSen(df: DataFrame, groupBy: Seq[String],
               x: Column, y: Column): DataFrame = {
    require(groupBy.nonEmpty, "theilSen needs group keys")
    def q(c: Column): Column = round(c * lit(1e6), 0).cast("long")
    val gCols = groupBy.map(col)
    val W = org.apache.spark.sql.expressions.Window.partitionBy(gCols: _*)
    val base = df.select(gCols :+ q(x).as("__x") :+ q(y).as("__y"): _*)
      .filter(col("__x").isNotNull && col("__y").isNotNull)
      .withColumn("__i", row_number().over(W.orderBy(col("__x"), col("__y"))))
    val a = base.toDF(base.columns.map(c => if (c.startsWith("__")) s"${c}_a" else c): _*)
    val b = base.toDF(base.columns.map(c => if (c.startsWith("__")) s"${c}_b" else c): _*)
    // slope in nanos: dy/dx over micro inputs is unitless — scale by 1e9
    val pairs = a.join(b, groupBy).filter(col("__i_a") < col("__i_b"))
      .filter(col("__x_a") =!= col("__x_b"))
      .select(gCols
        :+ round((col("__y_b") - col("__y_a")).cast("double")
          / (col("__x_b") - col("__x_a")).cast("double") * lit(1e9), 0)
          .cast("long").as("__s"): _*)
    def medianNanos(in: DataFrame, valCol: String, outCol: String): DataFrame = {
      val ranked = in.select(
        gCols :+ col(valCol)
          :+ (row_number().over(W.orderBy(col(valCol))) - lit(1L)).as("__r")
          :+ (count(lit(1)).over(W) - lit(1L)).as("__m"): _*)
      val lo = expr("__m div 2")
      val rem = col("__m") - lo * 2
      val wgt = when(col("__r") === lo, lit(2L) - rem)
        .when(col("__r") === lo + 1, rem).otherwise(lit(0L))
      ranked.filter(wgt > 0L)
        .groupBy(gCols: _*)
        .agg((sum(wgt * col(valCol)) / lit(2L)).as(outCol),
          count(lit(1)).as(s"${outCol}_nsel"))
    }
    val slopes = medianNanos(pairs, "__s", "__slope2")
      .withColumn("__slope", col("__slope2").cast("double"))
    val nPairs = pairs.groupBy(gCols: _*).agg(count(lit(1)).as("n_pairs"))
    val nRows = base.groupBy(gCols: _*).agg(count(lit(1)).as("n"))
    // residual pass: b_i = y_i − slope·x_i, in nanos of value units
    val withSlope = base.join(slopes, groupBy)
      .withColumn("__b",
        round(col("__y").cast("double") * lit(1e3)
          - col("__slope") / lit(1e9) * col("__x").cast("double") * lit(1e3), 0)
          .cast("long"))
    val intercepts = medianNanos(withSlope, "__b", "__int2")
    nRows.join(nPairs, groupBy, "left")
      .join(slopes, groupBy, "left")
      .join(intercepts, groupBy, "left")
      .select(gCols :+ col("n")
        :+ coalesce(col("n_pairs"), lit(0L)).as("n_pairs")
        :+ round(col("__slope") / lit(1e9), 6).as("slope")
        :+ round(col("__int2").cast("double") / lit(1e9), 6).as("intercept"): _*)
  }

  /** EXACT grouped quantiles with linear interpolation — the
    * `quantile_cont` / numpy-linear convention (rank h = (n−1)·p,
    * value = a + frac·(b−a)) computed in INTEGER arithmetic: p arrives
    * as a rational num/den, so h's floor and remainder are exact longs
    * and the interpolated value is
    *
    *   ((den − rem)·x_lo + rem·x_hi) / den
    *
    * over micro-quantized values — bit-identical on any engine and any
    * partitioning, where the float-p builtins (`percentile`,
    * `approx_percentile`, `quantile_cont`) differ in last-ulp
    * interpolation trees. Returns one row per (group, quantile):
    * `(groups..., p_num, p_den, q)`, 6 dp.
    *
    * Scale shape: ONE group-keyed sort (rank + count windows share the
    * exchange), a filter to the ≤ 2·|quantiles| boundary rows per
    * group, and a map-combined aggregation — the quantile extraction
    * never re-shuffles data-sized frames. Nulls drop (no rank).
    */
  def exactQuantiles(df: DataFrame, groupBy: Seq[String], value: Column,
                     quantiles: Seq[(Int, Int)]): DataFrame = {
    require(groupBy.nonEmpty, "exactQuantiles needs group keys")
    require(quantiles.nonEmpty, "need at least one quantile")
    quantiles.foreach { case (num, den) =>
      require(den > 0 && num >= 0 && num <= den, s"bad quantile $num/$den")
    }
    val dec = DecimalType(38, 0)
    val gCols = groupBy.map(col)
    val q = round(value * lit(1e6), 0).cast("long")
    val base = df.select(gCols :+ q.as("__x"): _*).filter(col("__x").isNotNull)
    val W = org.apache.spark.sql.expressions.Window.partitionBy(gCols: _*)
    val ranked = base.select(
      gCols :+ col("__x")
        :+ (row_number().over(W.orderBy(col("__x"))) - lit(1L)).as("__i")
        :+ (count(lit(1)).over(W) - lit(1L)).as("__m"): _*) // m = n-1
    // per quantile: lo = (m·num) div den, rem = (m·num) mod den;
    // row i carries weight (den-rem) at lo, rem at lo+1, else 0
    def weight(num: Int, den: Int): Column = {
      val h = col("__m") * num
      val lo = expr(s"(__m * $num) div $den")
      val rem = h - lo * den
      when(col("__i") === lo, lit(den) - rem)
        .when(col("__i") === lo + 1, rem)
        .otherwise(lit(0L))
    }
    val contribs = quantiles.zipWithIndex.map { case ((num, den), k) =>
      sum((weight(num, den).cast(dec) * col("__x").cast(dec))).as(s"__c$k")
    }
    val agg = ranked
      .filter(quantiles.map { case (num, den) => weight(num, den) > 0 }
        .reduce(_ || _))
      .groupBy(gCols: _*)
      .agg(contribs.head, contribs.tail: _*)
    val qStructs = array(quantiles.zipWithIndex.map { case ((num, den), k) =>
      struct(lit(num).as("pn"), lit(den).as("pd"),
        round(col(s"__c$k").cast("double") / lit(den.toDouble) / lit(1e6), 6)
          .as("q"))
    }: _*)
    agg.select(gCols :+ explode(qStructs).as("__e"): _*)
      .select(gCols :+ col("__e.pn").as("p_num") :+ col("__e.pd").as("p_den")
        :+ col("__e.q").as("q"): _*)
  }

  /** EXACT weighted quantiles per group — the expenditure-weighted
    * median/percentile of index-number practice (half the SPEND sits
    * below the weighted median price; the unweighted one answers a
    * different question): for rational p = num/den, the smallest value
    * whose cumulative weight reaches p·W, decided by the INTEGER
    * comparison
    *
    *   den·(cumW − w) < num·W ≤ den·cumW
    *
    * over micro-quantized weights — no float thresholds, so the picked
    * row is exact under any partitioning (ties in value pick the same
    * VALUE whatever the intra-tie order). Returns one row per
    * (group, quantile): `(groups..., p_num, p_den, wq)`, 6 dp; a group
    * with zero total weight emits null wq.
    *
    * Scale shape: one group-keyed sort (cumulative + total windows
    * share the exchange), then a map-combined rollup — the
    * [[exactQuantiles]] shape with weights. Rows with null/negative
    * weight drop (a quantile has no place for them).
    */
  def weightedQuantiles(df: DataFrame, groupBy: Seq[String], value: Column,
                        weight: Column, quantiles: Seq[(Int, Int)]): DataFrame = {
    require(groupBy.nonEmpty, "weightedQuantiles needs group keys")
    require(quantiles.nonEmpty, "need at least one quantile")
    quantiles.foreach { case (num, den) =>
      require(den > 0 && num >= 1 && num <= den, s"bad quantile $num/$den (need 0 < p <= 1)")
    }
    val dec = DecimalType(38, 0)
    val gCols = groupBy.map(col)
    val x = round(value * lit(1e6), 0).cast("long")
    val w = round(weight * lit(1e6), 0).cast("long")
    val base = df.select(gCols :+ x.as("__x") :+ w.as("__w"): _*)
      .filter(col("__x").isNotNull && col("__w").isNotNull && col("__w") > 0L)
    val W = org.apache.spark.sql.expressions.Window.partitionBy(gCols: _*)
    val ranked = base.select(
      gCols :+ col("__x") :+ col("__w").cast(dec).as("__wd")
        :+ sum(col("__w").cast(dec)).over(W.orderBy(col("__x"))
          .rowsBetween(Long.MinValue, 0)).as("__cw")
        :+ sum(col("__w").cast(dec)).over(W).as("__tw"): _*)
    val picks = quantiles.zipWithIndex.map { case ((num, den), k) =>
      val target = lit(num).cast(dec) * col("__tw")
      val hit = (lit(den).cast(dec) * (col("__cw") - col("__wd")) < target) &&
        (target <= lit(den).cast(dec) * col("__cw"))
      max(when(hit, col("__x"))).as(s"__q$k")
    }
    val agg = ranked.groupBy(gCols: _*).agg(picks.head, picks.tail: _*)
    val qStructs = array(quantiles.zipWithIndex.map { case ((num, den), k) =>
      struct(lit(num).as("pn"), lit(den).as("pd"),
        round(col(s"__q$k").cast("double") / lit(1e6), 6).as("q"))
    }: _*)
    agg.select(gCols :+ explode(qStructs).as("__e"): _*)
      .select(gCols :+ col("__e.pn").as("p_num") :+ col("__e.pd").as("p_den")
        :+ col("__e.q").as("wq"): _*)
  }

  /** Exact trimmed mean per group — the robust center that survives
    * both tails (winsorize clamps; trimming DROPS): remove the lowest
    * and highest ⌊n·f⌋ rows (f = trimNum/trimDen, an exact integer
    * count — no float rank boundaries) and average the rest through
    * micro-quantized DECIMAL sums. Returns
    * `(groups..., n, n_trimmed_each, n_kept, trimmed_mean)`, 6 dp;
    * groups where trimming eats everything emit null mean. Boundary
    * ties: which duplicate drops is plan-dependent, but duplicates are
    * EQUAL — the kept multiset, and therefore the mean, is exact.
    *
    * Scale shape: one group-keyed sort window + a map-combined rollup
    * (the [[exactQuantiles]] shape).
    */
  def trimmedMean(df: DataFrame, groupBy: Seq[String], value: Column,
                  trimNum: Int, trimDen: Int): DataFrame = {
    require(groupBy.nonEmpty, "trimmedMean needs group keys")
    require(trimDen > 0 && trimNum >= 0 && 2 * trimNum < trimDen,
      s"need 0 <= f < 1/2: $trimNum/$trimDen")
    val dec = DecimalType(38, 0)
    val gCols = groupBy.map(col)
    val x = round(value * lit(1e6), 0).cast("long")
    val base = df.select(gCols :+ x.as("__x"): _*).filter(col("__x").isNotNull)
    val W = org.apache.spark.sql.expressions.Window.partitionBy(gCols: _*)
    val ranked = base.select(
      gCols :+ col("__x")
        :+ row_number().over(W.orderBy(col("__x"))).cast("long").as("__i")
        :+ count(lit(1)).over(W).as("__n"): _*)
    val k = expr(s"(__n * $trimNum) div $trimDen")
    val agg = ranked
      .withColumn("__k", k)
      .groupBy(gCols :+ col("__n").as("n") :+ col("__k").as("n_trimmed_each"): _*)
      .agg(
        sum(when(col("__i") > col("__k") && col("__i") <= col("__n") - col("__k"), 1L)
          .otherwise(0L)).as("n_kept"),
        sum(when(col("__i") > col("__k") && col("__i") <= col("__n") - col("__k"),
          col("__x").cast(dec))).as("__s"))
    agg.select(
      gCols :+ col("n") :+ col("n_trimmed_each") :+ col("n_kept")
        :+ when(col("n_kept") > 0L,
          round(col("__s").cast("double") / col("n_kept").cast("double") / lit(1e6), 6))
          .as("trimmed_mean"): _*)
  }

  /** Spearman rank correlation per group: Pearson on average ranks —
    * the monotone-association measure that survives outliers and
    * nonlinearity (quality score vs downstream loss, price vs
    * quantity). Returns `(groups..., n, rho)`, 6 dp.
    *
    * Determinism: both columns micro-quantize, and DOUBLED average
    * ranks come from the exact integer identity
    *
    *   2·rank_avg = rank_asc + (n_g + 1 − rank_desc)
    *
    * (rank() twice over the same partition, opposite orders — ties get
    * the same doubled-average rank with no half-integers). The Pearson
    * moments over those integers accumulate as DECIMAL(38,0), so rho is
    * exact-integer arithmetic until one final IEEE division.
    *
    * Scale shape: three windows sharing ONE group-keyed exchange (two
    * sort orders, no extra shuffle), then a map-combined per-group
    * aggregation. Rows with a null in either column drop (a null has no
    * rank).
    */
  def spearman(df: DataFrame, groupBy: Seq[String],
               x: Column, y: Column): DataFrame = {
    require(groupBy.nonEmpty,
      "spearman needs group keys (use a constant column for a global rho)")
    val dec = DecimalType(38, 0)
    def q(c: Column): Column = round(c * lit(1e6), 0).cast("long")
    val gCols = groupBy.map(col)
    val base = df.select(gCols :+ q(x).as("__x") :+ q(y).as("__y"): _*)
      .filter(col("__x").isNotNull && col("__y").isNotNull)
    val W = org.apache.spark.sql.expressions.Window.partitionBy(gCols: _*)
    val nG = count(lit(1)).over(W)
    def rank2(c: Column): Column =
      rank().over(W.orderBy(c)) + (nG + lit(1L)) - rank().over(W.orderBy(c.desc))
    val ranked = base.select(
      gCols :+ rank2(col("__x")).cast(dec).as("__rx")
        :+ rank2(col("__y")).cast(dec).as("__ry"): _*)
    val agg = ranked.groupBy(gCols: _*)
      .agg(count(lit(1)).as("n"),
        sum(col("__rx")).as("__sx"), sum(col("__ry")).as("__sy"),
        sum(col("__rx") * col("__rx")).as("__sxx"),
        sum(col("__ry") * col("__ry")).as("__syy"),
        sum(col("__rx") * col("__ry")).as("__sxy"))
    val nDec = col("n").cast(dec)
    val num = (nDec * col("__sxy") - col("__sx") * col("__sy")).cast("double")
    val dx = (nDec * col("__sxx") - col("__sx") * col("__sx")).cast("double")
    val dy = (nDec * col("__syy") - col("__sy") * col("__sy")).cast("double")
    agg.select(
      gCols :+ col("n")
        :+ when(dx > 0.0 && dy > 0.0, round(num / sqrt(dx * dy), 6)).as("rho"): _*)
  }

  /** Standardized effect size for a two-sample comparison — the number
    * a significance test ([[welchT]]) deliberately isn't (with 100 TB
    * of rows EVERYTHING is significant; d says whether the difference
    * MATTERS): Cohen's d with the pooled SD, plus Hedges' g small-
    * sample correction,
    *
    *   d = (m_a − m_b)/s_p,  s_p² = ((n_a−1)s_a² + (n_b−1)s_b²)/(n_a+n_b−2)
    *   g = d·(1 − 3/(4(n_a+n_b) − 9))
    *
    * Returns ONE row `(n_a, n_b, mean_a, mean_b, pooled_sd, cohens_d,
    * hedges_g)`, 6 dp; d/g null when either side has < 2 rows or the
    * pooled variance is 0.
    *
    * Determinism: the [[welchT]] discipline — both sides' moments in
    * one grand conditional aggregate over micro-quantized DECIMAL(38,0)
    * sums; everything after is one fixed IEEE tree over exact integers.
    *
    * Scale shape: one map-combined exchange to one row. No join.
    */
  def effectSize(df: DataFrame, inA: Column, inB: Column, value: Column): DataFrame = {
    val dec = DecimalType(38, 0)
    def q(c: Column): Column = round(c * lit(1e6), 0).cast(dec)
    val tagged = df.select(
      when(inA, lit("a")).when(inB, lit("b")).as("__g"), q(value).as("__x"))
      .filter(col("__g").isNotNull && col("__x").isNotNull)
    val g = col("__g")
    def side(s: String): Seq[Column] = Seq(
      sum(when(g === s, 1L).otherwise(0L)).cast(dec).as(s"__n$s"),
      sum(when(g === s, col("__x"))).as(s"__s$s"),
      sum(when(g === s, col("__x") * col("__x"))).as(s"__ss$s"))
    val moments = side("a") ++ side("b")
    val m = tagged.agg(moments.head, moments.tail: _*)
    def nD(s: String) = col(s"__n$s").cast("double")
    def mean(s: String) = col(s"__s$s").cast("double") / nD(s) / lit(1e6)
    // (n−1)·s² in micro² units, exact: (n·Σx² − (Σx)²)/n
    def ssDev(s: String) =
      (col(s"__n$s") * col(s"__ss$s") - col(s"__s$s") * col(s"__s$s")).cast("double") / nD(s)
    val nTot = nD("a") + nD("b")
    val sp = sqrt((ssDev("a") + ssDev("b")) / (nTot - lit(2.0))) / lit(1e6)
    val d = (mean("a") - mean("b")) / sp
    val gCorr = d * (lit(1.0) - lit(3.0) / (lit(4.0) * nTot - lit(9.0)))
    val ok = col("__na") >= 2 && col("__nb") >= 2 && sp > 0.0
    m.select(
      col("__na").cast("long").as("n_a"), col("__nb").cast("long").as("n_b"),
      round(mean("a"), 6).as("mean_a"), round(mean("b"), 6).as("mean_b"),
      when(ok, round(sp, 6)).as("pooled_sd"),
      when(ok, round(d, 6)).as("cohens_d"),
      when(ok, round(gCorr, 6)).as("hedges_g"))
  }

  /** Brown-Forsythe (median-centered Levene) test for variance
    * homogeneity across k groups — the assumption check behind
    * [[anovaOneWay]] (and the direct "did spread change?" monitor a
    * mean-drift test misses): W = the one-way ANOVA F computed on the
    * absolute deviations from each group's MEDIAN,
    *
    *   z_ij = |x_ij − med_i|,  W = F(z)
    *
    * (medians, not means — Brown-Forsythe's robustness fix to Levene).
    * Returns one row `(k, n, ss_between, ss_within, f, eta_sq)` from
    * [[anovaOneWay]] on z. The median is [[exactQuantiles]]' integer
    * interpolation, so z is exact to the half-micro and the whole
    * statistic replays on any engine.
    *
    * Scale shape: one group-keyed sort for the medians, a group-keyed
    * join of the k-row median table back onto the rows (AQE broadcasts
    * it), then [[anovaOneWay]]'s one map-combined aggregation.
    */
  def leveneBrownForsythe(df: DataFrame, groupCol: Column, value: Column): DataFrame = {
    val base = df.select(groupCol.as("__lg"), value.as("__lv"))
      .filter(col("__lg").isNotNull && col("__lv").isNotNull)
    val med = exactQuantiles(base, Seq("__lg"), col("__lv"), Seq((1, 2)))
      .select(col("__lg"), col("q").as("__med"))
    val z = base.join(med, "__lg")
      .select(col("__lg"), abs(col("__lv") - col("__med")).as("__z"))
    anovaOneWay(z, col("__lg"), col("__z"))
  }

  /** Paired t-test — the within-subject comparison [[welchT]]'s
    * independent-samples assumption gets WRONG when the same key
    * appears on both sides (pre/post, A-vs-B per user): per key with
    * BOTH sides present, the difference of the key's side means
    *
    *   d_k = mean_a(k) − mean_b(k),   t = mean(d) / (sd(d)/√n)
    *
    * Returns ONE row `(n_pairs, mean_diff, sd_diff, t)`, 6 dp; t null
    * when n < 2 or sd = 0. Keys missing a side drop (no pair).
    *
    * Determinism: per-key side sums are exact micro decimals; d_k is
    * one IEEE division pair nano-quantized BEFORE the cross-key
    * moments (the [[anovaOneWay]] cross-group discipline), so the
    * final t is a fixed tree over exact longs.
    *
    * Scale shape: one key-keyed map-combined aggregation + one grand
    * rollup. No join, no window.
    */
  def pairedT(df: DataFrame, keyCol: Column, inA: Column, inB: Column,
              value: Column): DataFrame = {
    val dec = DecimalType(38, 0)
    def q(c: Column): Column = round(c * lit(1e6), 0).cast(dec)
    val tagged = df.select(keyCol.as("__k"),
        when(inA, lit("a")).when(inB, lit("b")).as("__g"), q(value).as("__x"))
      .filter(col("__k").isNotNull && col("__g").isNotNull && col("__x").isNotNull)
    val g = col("__g")
    val perKey = tagged.groupBy(col("__k")).agg(
      sum(when(g === "a", 1L).otherwise(0L)).as("__na"),
      sum(when(g === "a", col("__x"))).as("__sa"),
      sum(when(g === "b", 1L).otherwise(0L)).as("__nb"),
      sum(when(g === "b", col("__x"))).as("__sb"))
    // d_k in exact value-nanos: micro sums/count ×1e3, rounded once
    val dNanos = round(
      (col("__sa").cast("double") / col("__na").cast("double")
        - col("__sb").cast("double") / col("__nb").cast("double")) * lit(1e3), 0)
      .cast(dec)
    val diffs = perKey.filter(col("__na") > 0L && col("__nb") > 0L)
      .select(dNanos.as("__d"))
    val agg = diffs.agg(count(lit(1)).cast(dec).as("__n"),
      sum(col("__d")).as("__sd"), sum(col("__d") * col("__d")).as("__sdd"))
    val nD = col("__n").cast("double")
    val meanD = col("__sd").cast("double") / nD / lit(1e9)
    val varD = (col("__n") * col("__sdd") - col("__sd") * col("__sd")).cast("double") /
      (nD * (nD - lit(1.0))) / lit(1e18)
    val t = meanD / sqrt(varD / nD)
    agg.select(
      col("__n").cast("long").as("n_pairs"),
      round(meanD, 6).as("mean_diff"),
      when(col("__n") >= 2L && varD > 0.0, round(sqrt(varD), 6)).as("sd_diff"),
      when(col("__n") >= 2L && varD > 0.0, round(t, 6)).as("t"))
  }

  /** Sample-ratio-mismatch check — the first experimentation
    * guardrail: if arm assignment was supposed to be num:(den−num) and
    * the observed counts disagree beyond chance, EVERY downstream
    * readout is suspect (broken bucketing, logging loss). Chi-square
    * goodness of fit with 1 dof:
    *
    *   χ² = (n_a − E_a)²/E_a + (n_b − E_b)²/E_b,  E_a = N·num/den
    *
    * Returns ONE row `(n_a, n_b, expected_a, chi2, srm_suspect)` with
    * suspect ⇔ χ² > 10.83 (the p<0.001 1-dof cutoff — SRM checks run
    * at strict thresholds because they fire on every experiment).
    *
    * One conditional count aggregate; a fixed IEEE tree after.
    */
  def sampleRatioCheck(df: DataFrame, inA: Column, inB: Column,
                       expectNum: Int = 1, expectDen: Int = 2): DataFrame = {
    require(expectDen > 0 && expectNum > 0 && expectNum < expectDen,
      s"bad expected ratio $expectNum/$expectDen")
    val m = df.select(when(inA, lit("a")).when(inB, lit("b")).as("__g"))
      .filter(col("__g").isNotNull)
      .agg(sum(when(col("__g") === "a", 1L).otherwise(0L)).as("__na"),
        sum(when(col("__g") === "b", 1L).otherwise(0L)).as("__nb"))
    val nD = (col("__na") + col("__nb")).cast("double")
    val ea = nD * lit(expectNum.toDouble) / lit(expectDen.toDouble)
    val eb = nD - ea
    val chi2 = (col("__na").cast("double") - ea) * (col("__na").cast("double") - ea) / ea +
      (col("__nb").cast("double") - eb) * (col("__nb").cast("double") - eb) / eb
    m.select(col("__na").as("n_a"), col("__nb").as("n_b"),
      round(ea, 6).as("expected_a"),
      when(col("__na") + col("__nb") > 0, round(chi2, 6)).as("chi2"),
      when(col("__na") + col("__nb") > 0, round(chi2, 6) > 10.83).as("srm_suspect"))
  }

  /** Minimum detectable effect at 80% power / two-sided α=0.05 for the
    * CURRENT sample — the "was this experiment even big enough?"
    * readout that should accompany every null [[welchT]] result:
    *
    *   MDE = (z_{0.975} + z_{0.80}) · √(s_a²/n_a + s_b²/n_b)
    *
    * with the z constants fixed (1.959964, 0.841621 — 6-dp standard
    * normal quantiles, stated in the output contract so any engine
    * replays them). Returns ONE row `(n_a, n_b, se, mde_abs, mde_rel)`
    * with mde_rel = mde_abs / pooled mean; null when either side has
    * < 2 rows.
    *
    * One grand conditional-moment aggregate (the [[welchT]] pass).
    */
  def minimumDetectableEffect(df: DataFrame, inA: Column, inB: Column,
                              value: Column): DataFrame = {
    val dec = DecimalType(38, 0)
    def q(c: Column): Column = round(c * lit(1e6), 0).cast(dec)
    val tagged = df.select(
      when(inA, lit("a")).when(inB, lit("b")).as("__g"), q(value).as("__x"))
      .filter(col("__g").isNotNull && col("__x").isNotNull)
    val g = col("__g")
    def side(s: String): Seq[Column] = Seq(
      sum(when(g === s, 1L).otherwise(0L)).cast(dec).as(s"__n$s"),
      sum(when(g === s, col("__x"))).as(s"__s$s"),
      sum(when(g === s, col("__x") * col("__x"))).as(s"__ss$s"))
    val moments = side("a") ++ side("b")
    val m = tagged.agg(moments.head, moments.tail: _*)
    def nD(s: String) = col(s"__n$s").cast("double")
    def vOverN(s: String) =
      (col(s"__n$s") * col(s"__ss$s") - col(s"__s$s") * col(s"__s$s")).cast("double") /
        (nD(s) * (nD(s) - lit(1.0))) / lit(1e12) / nD(s)
    val se = sqrt(vOverN("a") + vOverN("b"))
    val mde = lit(1.959964 + 0.841621) * se
    val pooledMean = (col("__sa") + col("__sb")).cast("double") /
      (nD("a") + nD("b")) / lit(1e6)
    val ok = col("__na") >= 2 && col("__nb") >= 2
    m.select(
      col("__na").cast("long").as("n_a"), col("__nb").cast("long").as("n_b"),
      when(ok, round(se, 6)).as("se"),
      when(ok, round(mde, 6)).as("mde_abs"),
      when(ok && pooledMean =!= 0.0, round(mde / pooledMean, 6)).as("mde_rel"))
  }

  /** Tukey HSD post-hoc comparisons — the step AFTER [[anovaOneWay]]
    * says "the k means differ": WHICH pairs differ, with the
    * studentized-range statistic per pair,
    *
    *   q_ij = |m_i − m_j| / √( MSW/2 · (1/n_i + 1/n_j) )
    *
    * against the pooled within-group variance MSW = SSW/(n−k). Returns
    * one row per unordered pair `(group_a, group_b, n_a, n_b,
    * mean_diff, q)` (a < b, mean_diff = mean_a − mean_b), 6 dp; q null
    * when MSW is 0 or either side is empty. Compare q against the
    * studentized-range critical value for (k, n−k) — the lookup table
    * stays caller-side, as every stats package keeps it.
    *
    * Determinism: per-group moments are exact micro decimals; each
    * group's SSW term nano-quantizes before the cross-group sum (the
    * [[anovaOneWay]] discipline); the pair spine comes from ONE
    * grand-collect + double explode (k-bounded, no cross join), and
    * each pair's q is one fixed IEEE tree.
    *
    * Scale shape: one group-keyed map-combined aggregation to k rows;
    * everything after is k²-bounded driver-free arithmetic.
    */
  def tukeyHsd(df: DataFrame, groupCol: Column, value: Column): DataFrame = {
    val dec = DecimalType(38, 0)
    def q6(c: Column): Column = round(c * lit(1e6), 0).cast(dec)
    val base = df.select(groupCol.as("__g"), q6(value).as("__x"))
      .filter(col("__g").isNotNull && col("__x").isNotNull)
    val perGroup = base.groupBy(col("__g"))
      .agg(count(lit(1)).as("__ng"), sum(col("__x")).as("__sg"),
        sum(col("__x") * col("__x")).as("__ssg"))
    // SSW in value² units, nano-quantized per group before the sum
    val sswTerm = round((col("__ng").cast(dec) * col("__ssg")
        - col("__sg") * col("__sg")).cast("double")
      / col("__ng").cast("double") / lit(1e12) * lit(1e9), 0).cast("long")
    val grand = perGroup.agg(
      count(lit(1)).as("__k"), sum(col("__ng")).as("__n"),
      sum(sswTerm).as("__ssw"),
      sort_array(collect_list(struct(col("__g"), col("__ng"), col("__sg"))))
        .as("__gs"))
    val pairs = grand
      .select(col("__k"), col("__n"), col("__ssw"), explode(col("__gs")).as("__a"),
        col("__gs"))
      .select(col("__k"), col("__n"), col("__ssw"), col("__a"),
        explode(col("__gs")).as("__b"))
      .filter(col("__a.__g") < col("__b.__g"))
    val msw = col("__ssw").cast("double") / lit(1e9) /
      (col("__n") - col("__k")).cast("double")
    def mean(side: String) = col(s"__$side.__sg").cast("double") /
      col(s"__$side.__ng").cast("double") / lit(1e6)
    val nA = col("__a.__ng").cast("double"); val nB = col("__b.__ng").cast("double")
    val se = sqrt(msw / lit(2.0) * (lit(1.0) / nA + lit(1.0) / nB))
    val diff = mean("a") - mean("b")
    pairs.select(
      col("__a.__g").as("group_a"), col("__b.__g").as("group_b"),
      col("__a.__ng").as("n_a"), col("__b.__ng").as("n_b"),
      round(diff, 6).as("mean_diff"),
      when(col("__n") > col("__k") && col("__ssw") > 0L,
        round(abs(diff) / se, 6)).as("q"))
  }

  /** Games-Howell post-hoc comparisons — [[tukeyHsd]]'s
    * unequal-variance sibling (use THIS when
    * [[leveneBrownForsythe]] rejects homogeneity; Tukey's pooled MSW
    * misleads there): per pair,
    *
    *   q_ij = |m_i − m_j| / √( (s_i²/n_i + s_j²/n_j) / 2 )
    *   df_ij = Welch-Satterthwaite on the same two terms
    *
    * Returns one row per unordered pair `(group_a, group_b, n_a, n_b,
    * mean_diff, q, df)`, 6 dp; q/df null when either side has < 2 rows
    * or both variances are 0.
    *
    * Same plan as [[tukeyHsd]]: one group-keyed aggregation to k rows
    * (now carrying Σx² too), grand-collect + double explode, k²-bounded
    * IEEE arithmetic.
    */
  def gamesHowell(df: DataFrame, groupCol: Column, value: Column): DataFrame = {
    val dec = DecimalType(38, 0)
    def q6(c: Column): Column = round(c * lit(1e6), 0).cast(dec)
    val base = df.select(groupCol.as("__g"), q6(value).as("__x"))
      .filter(col("__g").isNotNull && col("__x").isNotNull)
    val perGroup = base.groupBy(col("__g"))
      .agg(count(lit(1)).as("__ng"), sum(col("__x")).as("__sg"),
        sum(col("__x") * col("__x")).as("__ssg"))
    val grand = perGroup.agg(
      sort_array(collect_list(struct(col("__g"), col("__ng"), col("__sg"),
        col("__ssg")))).as("__gs"))
    val pairs = grand
      .select(explode(col("__gs")).as("__a"), col("__gs"))
      .select(col("__a"), explode(col("__gs")).as("__b"))
      .filter(col("__a.__g") < col("__b.__g"))
    def nD(s: String) = col(s"__$s.__ng").cast("double")
    def mean(s: String) = col(s"__$s.__sg").cast("double") / nD(s) / lit(1e6)
    // s²/n from exact decimals: (n·Σx² − (Σx)²)/(n(n−1))/1e12/n
    def vOverN(s: String) =
      (col(s"__$s.__ng").cast(dec) * col(s"__$s.__ssg")
        - col(s"__$s.__sg") * col(s"__$s.__sg")).cast("double") /
        (nD(s) * (nD(s) - lit(1.0))) / lit(1e12) / nD(s)
    val se2 = vOverN("a") + vOverN("b")
    val diff = mean("a") - mean("b")
    val qStat = abs(diff) / sqrt(se2 / lit(2.0))
    val dfW = (se2 * se2) /
      (vOverN("a") * vOverN("a") / (nD("a") - lit(1.0)) +
        vOverN("b") * vOverN("b") / (nD("b") - lit(1.0)))
    val ok = col("__a.__ng") >= 2 && col("__b.__ng") >= 2
    pairs.select(
      col("__a.__g").as("group_a"), col("__b.__g").as("group_b"),
      col("__a.__ng").as("n_a"), col("__b.__ng").as("n_b"),
      round(diff, 6).as("mean_diff"),
      when(ok && se2 > 0.0, round(qStat, 6)).as("q"),
      when(ok && se2 > 0.0, round(dfW, 6)).as("df"))
  }

  /** 2×2 difference-in-differences — the causal workhorse for "did the
    * launch move the metric?" when a clean A/B is unavailable (treated
    * vs control, before vs after):
    *
    *   ATT = (ȳ_T,post − ȳ_T,pre) − (ȳ_C,post − ȳ_C,pre)
    *
    * with a Welch-style standard error from the four cell variances:
    * se² = Σ_cells s²/n. Returns ONE row
    * `(n_t_pre, n_t_post, n_c_pre, n_c_post, mean_t_pre, mean_t_post,
    * mean_c_pre, mean_c_post, att, se, z)`, 6 dp; se/z null when any
    * cell has < 2 rows.
    *
    * Determinism: all four cells' moments in one grand conditional
    * aggregate over micro-quantized DECIMAL sums (the [[welchT]]
    * discipline ×2); everything after is one fixed IEEE tree.
    *
    * Scale shape: one map-combined exchange to one row. No join.
    */
  def diffInDiff(df: DataFrame, treated: Column, post: Column,
                 value: Column): DataFrame = {
    val dec = DecimalType(38, 0)
    def q(c: Column): Column = round(c * lit(1e6), 0).cast(dec)
    val base = df.select(treated.as("__t"), post.as("__p"), q(value).as("__x"))
      .filter(col("__t").isNotNull && col("__p").isNotNull && col("__x").isNotNull)
    val cells = Seq(("tpre", col("__t") && !col("__p")), ("tpost", col("__t") && col("__p")),
      ("cpre", !col("__t") && !col("__p")), ("cpost", !col("__t") && col("__p")))
    val moments = cells.flatMap { case (s, cond) => Seq(
      sum(when(cond, 1L).otherwise(0L)).cast(dec).as(s"__n$s"),
      sum(when(cond, col("__x"))).as(s"__s$s"),
      sum(when(cond, col("__x") * col("__x"))).as(s"__ss$s"))
    }
    val m = base.agg(moments.head, moments.tail: _*)
    def nD(s: String) = col(s"__n$s").cast("double")
    def mean(s: String) = col(s"__s$s").cast("double") / nD(s) / lit(1e6)
    // s²/n per cell from exact integers (micro² → value² via 1e12)
    def vOverN(s: String) =
      (col(s"__n$s") * col(s"__ss$s") - col(s"__s$s") * col(s"__s$s")).cast("double") /
        (nD(s) * (nD(s) - lit(1.0))) / lit(1e12) / nD(s)
    val att = (mean("tpost") - mean("tpre")) - (mean("cpost") - mean("cpre"))
    val se2 = vOverN("tpre") + vOverN("tpost") + vOverN("cpre") + vOverN("cpost")
    val ok = cells.map { case (s, _) => col(s"__n$s") >= 2 }.reduce(_ && _)
    m.select(
      col("__ntpre").cast("long").as("n_t_pre"),
      col("__ntpost").cast("long").as("n_t_post"),
      col("__ncpre").cast("long").as("n_c_pre"),
      col("__ncpost").cast("long").as("n_c_post"),
      round(mean("tpre"), 6).as("mean_t_pre"),
      round(mean("tpost"), 6).as("mean_t_post"),
      round(mean("cpre"), 6).as("mean_c_pre"),
      round(mean("cpost"), 6).as("mean_c_post"),
      round(att, 6).as("att"),
      when(ok, round(sqrt(se2), 6)).as("se"),
      when(ok && se2 > 0.0, round(att / sqrt(se2), 6)).as("z"))
  }

  /** CUPED variance reduction (Deng et al. 2013, "Improving the
    * sensitivity of online controlled experiments") — the pre-period
    * covariate adjustment every experimentation platform applies
    * before reading an A/B difference: with θ = cov(x,y)/var(x) pooled
    * over both arms,
    *
    *   diff_adj = (ȳ_A − ȳ_B) − θ·(x̄_A − x̄_B)
    *
    * and the variance shrinks by the pooled ρ². Returns ONE row
    * `(n_a, n_b, diff_raw, theta, diff_adj, rho_sq)`, 6 dp; theta = 0
    * (no adjustment) when x has no variance, rho_sq null then.
    *
    * Determinism: per-arm AND pooled moments (incl. the xy cross term)
    * from one grand conditional aggregate over micro-quantized DECIMAL
    * sums; θ, the adjusted diff and ρ² are one fixed IEEE tree each.
    *
    * Scale shape: one map-combined exchange to one row. No join, no
    * second pass — the per-row adjusted metric never materializes
    * because the adjusted MEANS are a linear function of the moments.
    */
  def cuped(df: DataFrame, inA: Column, inB: Column,
            metric: Column, covariate: Column): DataFrame = {
    val dec = DecimalType(38, 0)
    def q(c: Column): Column = round(c * lit(1e6), 0).cast(dec)
    val base = df.select(
        when(inA, lit("a")).when(inB, lit("b")).as("__g"),
        q(metric).as("__y"), q(covariate).as("__x"))
      .filter(col("__g").isNotNull && col("__y").isNotNull && col("__x").isNotNull)
    val g = col("__g")
    def side(s: String): Seq[Column] = Seq(
      sum(when(g === s, 1L).otherwise(0L)).cast(dec).as(s"__n$s"),
      sum(when(g === s, col("__y"))).as(s"__sy$s"),
      sum(when(g === s, col("__x"))).as(s"__sx$s"))
    val pooled = Seq(
      count(lit(1)).cast(dec).as("__n"),
      sum(col("__y")).as("__sy"), sum(col("__x")).as("__sx"),
      sum(col("__y") * col("__y")).as("__syy"),
      sum(col("__x") * col("__x")).as("__sxx"),
      sum(col("__x") * col("__y")).as("__sxy"))
    val moments = side("a") ++ side("b") ++ pooled
    val m = base.agg(moments.head, moments.tail: _*)
    def nD(s: String) = col(s"__n$s").cast("double")
    def meanY(s: String) = col(s"__sy$s").cast("double") / nD(s) / lit(1e6)
    def meanX(s: String) = col(s"__sx$s").cast("double") / nD(s) / lit(1e6)
    val covN = (col("__n") * col("__sxy") - col("__sx") * col("__sy")).cast("double")
    val varXN = (col("__n") * col("__sxx") - col("__sx") * col("__sx")).cast("double")
    val varYN = (col("__n") * col("__syy") - col("__sy") * col("__sy")).cast("double")
    val theta = when(varXN > 0.0, covN / varXN).otherwise(lit(0.0)) // micro/micro
    val diffRaw = meanY("a") - meanY("b")
    val diffAdj = diffRaw - theta * (meanX("a") - meanX("b"))
    val rhoSq = covN * covN / (varXN * varYN)
    m.select(
      col("__na").cast("long").as("n_a"), col("__nb").cast("long").as("n_b"),
      round(diffRaw, 6).as("diff_raw"),
      round(theta, 6).as("theta"),
      round(diffAdj, 6).as("diff_adj"),
      when(varXN > 0.0 && varYN > 0.0, round(rhoSq, 6)).as("rho_sq"))
  }

  /** Binary ROC AUC of a score column — the classifier eval number
    * every curation stage ([[graft.text.Classify]], a perplexity
    * filter, a reward model) reports before its threshold is trusted:
    * the probability a random positive outranks a random negative,
    * ties counting half, which is EXACTLY the Mann-Whitney statistic
    * normalized —
    *
    *   AUC = U_pos / (n_pos · n_neg)
    *
    * so this rides [[mannWhitneyU]]'s exact integer 2U (distinct-value
    * rank layer, tie-corrected, partitioning-invariant) and performs
    * one final division. Returns ONE row `(n_pos, n_neg, auc)`, 6 dp;
    * auc null when either class is empty. Rows with null score or
    * null/indeterminate label drop.
    *
    * Scale shape: [[mannWhitneyU]]'s — one (value)-keyed map-combined
    * aggregation to the distinct-score layer, one cumulative window
    * over it (bounded by DISTINCT scores, which a 6-dp score column
    * caps at 2e6), one 1-row rollup.
    */
  def binaryAuc(df: DataFrame, positive: Column, score: Column): DataFrame = {
    val mw = mannWhitneyU(df.withColumn("__all", lit(1)), Seq("__all"),
      positive, !positive, score)
    mw.select(
      col("n_a").as("n_pos"), col("n_b").as("n_neg"),
      when(col("n_a") >= 1 && col("n_b") >= 1,
        round(col("u_a_twice").cast("double") / lit(2.0)
          / (col("n_a").cast("double") * col("n_b").cast("double")), 6))
        .as("auc"))
  }

  /** Durbin-Watson autocorrelation-of-residuals statistic per group —
    * the standard "is this regression missing serial structure?"
    * diagnostic on [[graft.ops.Regression.groupOls]]-style fits:
    * residuals of the per-group OLS of y on x, in x order,
    *
    *   DW = Σ_{t≥2} (e_t − e_{t−1})² / Σ e_t²   ∈ [0, 4]
    *
    * (≈2 no autocorrelation, →0 positive, →4 negative). Returns one
    * row per group `(groups..., n, dw)`, 6 dp; null when n < 2, x has
    * no variance, or the residuals are all 0 (perfect fit).
    *
    * Determinism: OLS moments are exact decimal sums computed as
    * group-partitioned WINDOW aggregates (sharing the one exchange —
    * no join-back, no second scan); each residual is a fixed IEEE tree
    * nano-quantized before the DW sums, which are exact integers.
    *
    * Scale shape: ONE group-keyed exchange; the moment windows, the
    * x-ordered lag, and the final map-combined aggregation all ride it.
    */
  def durbinWatson(df: DataFrame, groupBy: Seq[String],
                   x: Column, y: Column): DataFrame = {
    require(groupBy.nonEmpty, "durbinWatson needs group keys")
    val dec = DecimalType(38, 0)
    def q(c: Column): Column = round(c * lit(1e6), 0).cast(dec)
    val gCols = groupBy.map(col)
    val W = org.apache.spark.sql.expressions.Window.partitionBy(gCols: _*)
    val base = df.select(gCols :+ q(x).as("__x") :+ q(y).as("__y"): _*)
      .filter(col("__x").isNotNull && col("__y").isNotNull)
    val withMoments = base.select(gCols ++ Seq(col("__x"), col("__y"),
      count(lit(1)).over(W).cast(dec).as("__n"),
      sum(col("__x")).over(W).as("__sx"),
      sum(col("__y")).over(W).as("__sy"),
      sum(col("__x") * col("__x")).over(W).as("__sxx"),
      sum(col("__x") * col("__y")).over(W).as("__sxy")): _*)
    val varX = (col("__n") * col("__sxx") - col("__sx") * col("__sx")).cast("double")
    val covN = (col("__n") * col("__sxy") - col("__sx") * col("__sy")).cast("double")
    val slope = covN / varX                                     // micro/micro
    val interMicro = (col("__sy").cast("double")
      - slope * col("__sx").cast("double")) / col("__n").cast("double")
    // residual in exact nanos: e = y − (a + b·x), micro × 1e3
    val eNanos = when(varX =!= 0.0, round(
      (col("__y").cast("double") - interMicro - slope * col("__x").cast("double"))
        * lit(1e3), 0).cast(dec))
    val lagged = withMoments
      .select(gCols ++ Seq(eNanos.as("__e"),
        lag(eNanos, 1).over(W.orderBy(col("__x"), col("__y"))).as("__ep")): _*)
    val agg = lagged.groupBy(gCols: _*).agg(
      count(lit(1)).as("n"),
      sum(col("__e") * col("__e")).as("__see"),
      sum(when(col("__ep").isNotNull,
        (col("__e") - col("__ep")) * (col("__e") - col("__ep")))).as("__sdd"))
    agg.select(
      gCols :+ col("n")
        :+ when(col("n") >= 2 && col("__see").isNotNull && col("__see") > 0,
          round(col("__sdd").cast("double") / col("__see").cast("double"), 6))
          .as("dw"): _*)
  }

  /** McNemar's test for PAIRED classifiers — did predictor A and
    * predictor B disagree more than chance on the SAME rows? The
    * question accuracy deltas can't answer (two 90% classifiers can
    * disagree on completely different rows), and the one to ask before
    * swapping the curation classifier ([[graft.text.Classify]] vs a
    * heuristic) on "it scored 0.4% higher".
    *
    * Only the discordant cells carry signal: with `b` = A-only-correct
    * and `c` = B-only-correct rows,
    *
    *   chi2 = (max(|b − c| − 1, 0))² / (b + c)     (continuity-corrected,
    *                                                clamped at 0 for b=c)
    *
    * against chi²(1); `reject` at the 5% critical value 3.841459. Rows
    * where either correctness is null drop.
    *
    * Determinism: four exact conditional counts, one fixed IEEE tree.
    * Scale shape: ONE map-combined grand aggregation — no shuffle wider
    * than a single row.
    */
  def mcnemar(df: DataFrame, aCorrect: Column, bCorrect: Column): DataFrame = {
    val base = df.select(aCorrect.cast("boolean").as("__a"),
        bCorrect.cast("boolean").as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull)
    val agg = base.agg(
      count(lit(1)).as("n"),
      sum(when(col("__a") && col("__b"), 1L).otherwise(0L)).as("n_both"),
      sum(when(col("__a") && !col("__b"), 1L).otherwise(0L)).as("n_a_only"),
      sum(when(!col("__a") && col("__b"), 1L).otherwise(0L)).as("n_b_only"),
      sum(when(!col("__a") && !col("__b"), 1L).otherwise(0L)).as("n_neither"))
    val bD = col("n_a_only").cast("double")
    val cD = col("n_b_only").cast("double")
    val num = greatest(abs(bD - cD) - lit(1.0), lit(0.0))
    val chi2 = num * num / (bD + cD)
    agg.select(col("n"), col("n_both"), col("n_a_only"), col("n_b_only"),
      col("n_neither"),
      when(col("n_a_only") + col("n_b_only") > 0, round(chi2, 6)).as("chi2"),
      when(col("n_a_only") + col("n_b_only") > 0, round(chi2, 6) > 3.841459)
        .as("reject"))
  }

  /** Cochran–Mantel–Haenszel test + Mantel–Haenszel common odds ratio
    * over STRATIFIED 2×2 tables — "does exposure associate with outcome
    * after controlling for the stratum?", the Simpson's-paradox guard a
    * pooled [[chiSquareIndependence]] walks straight into (each stratum
    * can show the effect while the pooled table reverses it).
    *
    * Per stratum k with cells a,b,c,d (a = exposed∧outcome) and
    * n = a+b+c+d ≥ 2:
    *
    *   CMH  = (|Σ(a − (a+b)(a+c)/n)| − 0.5)² / Σ var_k,
    *   var_k = (a+b)(c+d)(a+c)(b+d) / (n²(n−1)),
    *   OR_MH = Σ(ad/n) / Σ(bc/n)
    *
    * against chi²(1); strata with n < 2 contribute nothing (var
    * undefined) and are excluded from `n_strata`. Rows with a null
    * stratum drop; `exposed`/`outcome` evaluate null as false (the
    * conditional-count posture of [[twoProportionZ]]).
    *
    * Determinism: cell counts are exact longs; each stratum's four IEEE
    * terms (num, var, ad/n, bc/n) nano-quantize BEFORE the cross-stratum
    * sums (the chi2 discipline), so the grand aggregate adds exact
    * integers and the final statistic is a fixed IEEE tree.
    *
    * Scale shape: one stratum-keyed map-combined aggregation (one row
    * per stratum), then one grand aggregate — no windows, no joins.
    */
  def cmhTest(df: DataFrame, stratum: Column, exposed: Column,
              outcome: Column): DataFrame = {
    val base = df.select(stratum.as("__s"),
        when(exposed, 1L).otherwise(0L).as("__e"),
        when(outcome, 1L).otherwise(0L).as("__o"))
      .filter(col("__s").isNotNull)
    val cells = base.groupBy(col("__s")).agg(
      sum(when(col("__e") === 1L && col("__o") === 1L, 1L).otherwise(0L)).as("__a"),
      sum(when(col("__e") === 1L && col("__o") === 0L, 1L).otherwise(0L)).as("__b"),
      sum(when(col("__e") === 0L && col("__o") === 1L, 1L).otherwise(0L)).as("__c"),
      sum(when(col("__e") === 0L && col("__o") === 0L, 1L).otherwise(0L)).as("__d"))
    def d(c: String): Column = col(c).cast("double")
    val nD = d("__a") + d("__b") + d("__c") + d("__d")
    def nano(c: Column): Column = round(c * lit(1e9), 0).cast(DecimalType(38, 0))
    val terms = cells.filter(col("__a") + col("__b") + col("__c") + col("__d") >= 2L)
      .select(
        nano(d("__a") - (d("__a") + d("__b")) * (d("__a") + d("__c")) / nD).as("__num"),
        nano((d("__a") + d("__b")) * (d("__c") + d("__d"))
          * (d("__a") + d("__c")) * (d("__b") + d("__d"))
          / (nD * nD * (nD - lit(1.0)))).as("__var"),
        nano(d("__a") * d("__d") / nD).as("__orn"),
        nano(d("__b") * d("__c") / nD).as("__ord"),
        (col("__a") + col("__b") + col("__c") + col("__d")).as("__n"))
    val agg = terms.agg(count(lit(1)).as("n_strata"), sum(col("__n")).as("n"),
      sum(col("__num")).as("__sn"), sum(col("__var")).as("__sv"),
      sum(col("__orn")).as("__so"), sum(col("__ord")).as("__sd"))
    val snD = col("__sn").cast("double") / lit(1e9)
    val svD = col("__sv").cast("double") / lit(1e9)
    val chi2 = (abs(snD) - lit(0.5)) * (abs(snD) - lit(0.5)) / svD
    agg.select(col("n_strata"), coalesce(col("n"), lit(0L)).as("n"),
      when(col("n_strata") > 0 && col("__sv") > 0, round(chi2, 6)).as("chi2"),
      when(col("n_strata") > 0 && col("__sv") > 0, round(chi2, 6) > 3.841459)
        .as("reject"),
      when(col("n_strata") > 0 && col("__sd") > 0,
        round(col("__so").cast("double") / col("__sd").cast("double"), 6))
        .as("or_mh"))
  }

  /** Cohen's h — the effect size for two proportions, the "does it
    * MATTER" beside [[twoProportionZ]]'s "is it real":
    *
    *   h = 2·asin(√p_a) − 2·asin(√p_b)
    *
    * (the arcsine transform makes a given h mean the same detectability
    * at any base rate — the property raw p_a − p_b lacks, and why
    * power calculators ask for h). One row:
    * `(n_a, n_b, p_a, p_b, h)`; null when either side is empty.
    *
    * Determinism: exact conditional counts; p's and h one IEEE tree
    * (asin is a correctly-rounded-in-practice libm call under a 6-dp
    * round — the [[graft.ops.Drift]] exp/ln posture).
    *
    * Scale shape: ONE grand conditional-count aggregation, 1-row
    * output.
    */
  def cohenH(df: DataFrame, inA: Column, inB: Column, success: Column): DataFrame = {
    val agg = df.filter(success.isNotNull).agg(
      sum(when(inA, 1L).otherwise(0L)).as("n_a"),
      sum(when(inB, 1L).otherwise(0L)).as("n_b"),
      sum(when(inA && success, 1L).otherwise(0L)).as("__ka"),
      sum(when(inB && success, 1L).otherwise(0L)).as("__kb"))
    val pa = col("__ka").cast("double") / col("n_a").cast("double")
    val pb = col("__kb").cast("double") / col("n_b").cast("double")
    val h = lit(2.0) * asin(sqrt(pa)) - lit(2.0) * asin(sqrt(pb))
    val ok = col("n_a") > 0L && col("n_b") > 0L
    agg.select(col("n_a"), col("n_b"),
      when(col("n_a") > 0L, round(pa, 6)).as("p_a"),
      when(col("n_b") > 0L, round(pb, 6)).as("p_b"),
      when(ok, round(h, 6)).as("h"))
  }

  /** Partial correlation — the x↔y association with a confounder z
    * HELD FIXED:
    *
    *   r_xy·z = (r_xy − r_xz·r_yz) / √((1−r_xz²)(1−r_yz²))
    *
    * the first causal-hygiene step after someone quotes a raw
    * correlation ("price correlates with quantity" — does it, once
    * discount is controlled?). One row:
    * `(n, r_xy, r_xz, r_yz, r_xy_z)`; the partial is null when either
    * controlling correlation is ±1 (z explains a variable exactly).
    * Rows with any null drop.
    *
    * Determinism: ONE grand aggregation of exact micro-quantized power
    * sums (9 sums); every r and the partial are fixed IEEE trees.
    *
    * Scale shape: one map-combined aggregation, 1-row output.
    */
  def partialCorrelation(df: DataFrame, x: Column, y: Column, z: Column): DataFrame = {
    val dec = DecimalType(38, 0)
    def q(c: Column): Column = round(c * lit(1e6), 0).cast("long")
    val base = df.filter(x.isNotNull && y.isNotNull && z.isNotNull)
      .select(q(x).as("__x"), q(y).as("__y"), q(z).as("__z"))
    def s(c: String): Column = sum(col(c).cast(dec))
    def s2(a: String, b: String): Column = sum(col(a).cast(dec) * col(b).cast(dec))
    val agg = base.agg(count(lit(1)).as("n"),
      s("__x").as("__sx"), s("__y").as("__sy"), s("__z").as("__sz"),
      s2("__x", "__x").as("__sxx"), s2("__y", "__y").as("__syy"),
      s2("__z", "__z").as("__szz"), s2("__x", "__y").as("__sxy"),
      s2("__x", "__z").as("__sxz"), s2("__y", "__z").as("__syz"))
    val nD = col("n").cast("double")
    def cov(sab: String, sa: String, sb: String): Column =
      (col(sab).cast("double") -
        col(sa).cast("double") * col(sb).cast("double") / nD) / nD / lit(1e12)
    val vx = cov("__sxx", "__sx", "__sx")
    val vy = cov("__syy", "__sy", "__sy")
    val vz = cov("__szz", "__sz", "__sz")
    val rxy = cov("__sxy", "__sx", "__sy") / sqrt(vx * vy)
    val rxz = cov("__sxz", "__sx", "__sz") / sqrt(vx * vz)
    val ryz = cov("__syz", "__sy", "__sz") / sqrt(vy * vz)
    val okR = col("n") >= 2 && vx > 0.0 && vy > 0.0 && vz > 0.0
    val denomSq = (lit(1.0) - rxz * rxz) * (lit(1.0) - ryz * ryz)
    agg.select(col("n"),
      when(okR, round(rxy, 6)).as("r_xy"),
      when(okR, round(rxz, 6)).as("r_xz"),
      when(okR, round(ryz, 6)).as("r_yz"),
      when(okR && denomSq > 0.0,
        round((rxy - rxz * ryz) / sqrt(denomSq), 6)).as("r_xy_z"))
  }

  /** Per-stratum odds ratio with the Woolf (log) 95% CI — the
    * stratum-level view [[cmhTest]] pools and [[breslowDay]] tests:
    * which strata actually carry the effect, with honest uncertainty?
    * One row per stratum:
    * `(stratum, a, b, c, d, odds_ratio, ci_lo, ci_hi)` using
    * ln OR ± 1.96·√(1/a+1/b+1/c+1/d); the OR is null when b·c = 0 and
    * the CI null when ANY cell is 0 (the Woolf SE diverges — apply a
    * continuity correction upstream if needed, documented rather than
    * silently added).
    *
    * Determinism: exact integer cells; OR and CI are fixed IEEE trees
    * per stratum.
    *
    * Scale shape: one stratum-keyed map-combined aggregation; output
    * is strata-bounded.
    */
  def oddsRatioByStratum(df: DataFrame, stratum: Column, exposed: Column,
                         outcome: Column): DataFrame = {
    val base = df.select(stratum.as("stratum"),
        when(exposed, 1L).otherwise(0L).as("__e"),
        when(outcome, 1L).otherwise(0L).as("__o"))
      .filter(col("stratum").isNotNull)
    val cells = base.groupBy(col("stratum")).agg(
      sum(when(col("__e") === 1L && col("__o") === 1L, 1L).otherwise(0L)).as("a"),
      sum(when(col("__e") === 1L && col("__o") === 0L, 1L).otherwise(0L)).as("b"),
      sum(when(col("__e") === 0L && col("__o") === 1L, 1L).otherwise(0L)).as("c"),
      sum(when(col("__e") === 0L && col("__o") === 0L, 1L).otherwise(0L)).as("d"))
    def dd(c: String): Column = col(c).cast("double")
    val or = dd("a") * dd("d") / (dd("b") * dd("c"))
    val se = sqrt(lit(1.0) / dd("a") + lit(1.0) / dd("b") +
      lit(1.0) / dd("c") + lit(1.0) / dd("d"))
    val allPos = col("a") > 0L && col("b") > 0L && col("c") > 0L && col("d") > 0L
    cells.select(col("stratum"), col("a"), col("b"), col("c"), col("d"),
      when(col("b") > 0L && col("c") > 0L, round(or, 6)).as("odds_ratio"),
      when(allPos, round(exp(log(or) - lit(1.96) * se), 6)).as("ci_lo"),
      when(allPos, round(exp(log(or) + lit(1.96) * se), 6)).as("ci_hi"))
  }

  /** Rank-biserial correlation — the effect size behind
    * [[mannWhitneyU]]: r = 2U/(n_a·n_b) − 1 ∈ [−1, 1], the probability
    * a random A-row outranks a random B-row, rescaled (r = 2·AUC − 1).
    * The "how big" to the U test's "is it real" — report both. Per
    * group: `(groups..., n_a, n_b, r_rb)`; null when either side is
    * empty. Inherits [[mannWhitneyU]]'s exact distinct-value rank
    * layer wholesale.
    */
  def rankBiserial(df: DataFrame, groupBy: Seq[String],
                   inA: Column, inB: Column, value: Column): DataFrame = {
    val gCols = groupBy.map(col)
    mannWhitneyU(df, groupBy, inA, inB, value).select(
      gCols :+ col("n_a") :+ col("n_b")
        :+ when(col("n_a") >= 1 && col("n_b") >= 1,
          round(col("u_a_twice").cast("double") /
            (col("n_a").cast("double") * col("n_b").cast("double")) - lit(1.0), 6))
          .as("r_rb"): _*)
  }

  /** Seasonal Mann-Kendall — monotone-trend detection that seasonality
    * cannot fool: Kendall's S computes WITHIN each season (same
    * weekday, same month), so the weekly/annual cycle contributes no
    * pairs, and the per-season statistics pool:
    *
    *   S = Σ_s S_s,   Var = Σ_s [n_s(n_s−1)(2n_s+5) − Σt(t−1)(2t+5)]/18,
    *   z = (S ∓ 1)/√Var   (continuity-corrected)
    *
    * Per group: `(groups..., n_seasons, n, s, z)`; z null when
    * Var = 0. The Hirsch-Slack test, the standard for trend in any
    * cyclic operational series.
    *
    * Determinism: values micro-quantize; S_s and the tie sums are
    * exact integer pair/count sums; z is one IEEE tree.
    *
    * Scale shape: the pair layer self-joins on (group, season) — pair
    * volume Σ n_s², the [[kendallTau]] bounded-group contract (per-
    * season series, not raw corpora) — plus one distinct-value tie
    * aggregation and two bounded rollups.
    */
  def seasonalMannKendall(df: DataFrame, parts: Seq[String], season: Column,
                          orderCol: Column, value: Column): DataFrame = {
    require(parts.nonEmpty, "seasonalMannKendall needs group keys")
    val dec = DecimalType(38, 0)
    def q(c: Column): Column = round(c * lit(1e6), 0).cast("long")
    val gCols = parts.map(col)
    val base = df.select(gCols :+ season.cast("string").as("__se")
        :+ orderCol.as("__o") :+ q(value).as("__x"): _*)
      .filter(col("__se").isNotNull && col("__x").isNotNull)
    import org.apache.spark.sql.expressions.Window
    val wSe = Window.partitionBy(gCols :+ col("__se"): _*)
    val idx = base.withColumn("__i",
      row_number().over(wSe.orderBy(col("__o"), col("__x"))))
    val seKeys = parts :+ "__se"
    val aSide = idx.select(gCols :+ col("__se")
      :+ col("__i").as("__i_a") :+ col("__x").as("__x_a"): _*)
    val bSide = idx.select(gCols :+ col("__se")
      :+ col("__i").as("__i_b") :+ col("__x").as("__x_b"): _*)
    val pairAgg = aSide.join(bSide, seKeys)
      .filter(col("__i_a") < col("__i_b"))
      .groupBy(gCols :+ col("__se"): _*)
      .agg(sum(signum(col("__x_b") - col("__x_a")).cast("long").cast(dec))
        .as("__ss"))
    val nC = col("__t").cast(dec)
    val ties = idx.groupBy(gCols :+ col("__se") :+ col("__x"): _*)
      .agg(count(lit(1)).as("__t"))
      .groupBy(gCols :+ col("__se"): _*)
      .agg(sum(col("__t")).as("__ns"),
        sum(nC * (nC - lit(1L).cast(dec)) *
          (lit(2L).cast(dec) * nC + lit(5L).cast(dec))).as("__tsum"))
    val nsC = col("__ns").cast(dec)
    val perSeason = ties.join(pairAgg, seKeys, "left")
      .select(gCols
        :+ col("__ns")
        :+ coalesce(col("__ss"), lit(0L).cast(dec)).as("__s")
        :+ (nsC * (nsC - lit(1L).cast(dec)) *
          (lit(2L).cast(dec) * nsC + lit(5L).cast(dec)) - col("__tsum"))
          .as("__v18"): _*)
    val agg = perSeason.groupBy(gCols: _*)
      .agg(count(lit(1)).as("n_seasons"), sum(col("__ns")).as("n"),
        sum(col("__s")).as("__S"), sum(col("__v18")).as("__V18"))
    val sD = col("__S").cast("double")
    val varD = col("__V18").cast("double") / lit(18.0)
    val z = when(col("__S") > 0L, (sD - lit(1.0)) / sqrt(varD))
      .when(col("__S") < 0L, (sD + lit(1.0)) / sqrt(varD))
      .otherwise(lit(0.0))
    agg.select(gCols :+ col("n_seasons") :+ col("n")
      :+ col("__S").cast("long").as("s")
      :+ when(varD > 0.0, round(z, 6)).as("z"): _*)
  }

  /** Yuen's trimmed-mean t — [[welchT]] with the tails cut off: the
    * robust two-sample location test for heavy-tailed metrics
    * (latency, spend) where a handful of outliers drives Welch's
    * variance. Each side trims `trimNum/trimDen` per tail by exact
    * COUNT (the [[trimmedMean]] rule, k = ⌊n·f⌋), compares trimmed
    * means, and scales by WINSORIZED variances:
    *
    *   t = (x̄_tA − x̄_tB) / √(d_A + d_B),
    *   d_i = (Σx_w² − (Σx_w)²/n_i) / (h_i(h_i−1)),   h_i = n_i − 2k_i
    *
    * with Welch-Satterthwaite df = (d_A+d_B)²/(d_A²/(h_A−1) +
    * d_B²/(h_B−1)). One row: `(n_a, n_b, h_a, h_b, tm_a, tm_b, t,
    * df)`; t is null when either h_i < 2 or both winsorized variances
    * are 0.
    *
    * Determinism: ranks are exact (micro-quantized values, row_number
    * with the value as its own tie-break), winsorizing bounds are the
    * exact order statistics x_(k+1) and x_(n−k) via conditional window
    * aggregates, so every sum is an exact decimal; t and df are fixed
    * IEEE trees.
    *
    * Scale shape: one side-keyed exchange shared by the rank and
    * bound windows (frames = one side's rows — the [[trimmedMean]]
    * bounded-group contract), one 2-row aggregation, one 1-row fold.
    */
  def yuenT(df: DataFrame, inA: Column, inB: Column, value: Column,
            trimNum: Int = 1, trimDen: Int = 5): DataFrame = {
    require(trimDen > 0 && trimNum >= 0 && 2 * trimNum < trimDen,
      s"need 0 <= f < 1/2: $trimNum/$trimDen")
    val dec = DecimalType(38, 0)
    def q(c: Column): Column = round(c * lit(1e6), 0).cast("long")
    val base = df.select(
        when(inA, "a").when(inB, "b").as("__g"), q(value).as("__x"))
      .filter(col("__g").isNotNull && col("__x").isNotNull)
    import org.apache.spark.sql.expressions.Window
    val wG = Window.partitionBy(col("__g"))
    val wOrd = wG.orderBy(col("__x"))
    val ranked = base.select(col("__g"), col("__x"),
      row_number().over(wOrd).cast("long").as("__i"),
      count(lit(1)).over(wG).as("__n"))
    val k = expr(s"(__n * $trimNum) div $trimDen")
    val withK = ranked.withColumn("__k", k)
    val lo = max(when(col("__i") <= col("__k") + lit(1L), col("__x"))).over(wG)
    val hi = min(when(col("__i") >= col("__n") - col("__k"), col("__x"))).over(wG)
    val withB = withK.withColumn("__lo", lo).withColumn("__hi", hi)
    val xw = least(greatest(col("__x"), col("__lo")), col("__hi"))
    val mid = col("__i") > col("__k") && col("__i") <= col("__n") - col("__k")
    val sides = withB.groupBy(col("__g"))
      .agg(max(col("__n")).as("__nn"), max(col("__k")).as("__kk"),
        sum(when(mid, col("__x").cast(dec))).as("__ts"),
        sum(when(mid, 1L).otherwise(0L)).as("__h"),
        sum(xw.cast(dec)).as("__ws"),
        sum((xw.cast(dec)) * (xw.cast(dec))).as("__ws2"))
    def side(g: String, c: String): Column = max(when(col("__g") === g, col(c)))
    val folded = sides.agg(
      side("a", "__nn").as("__na"), side("b", "__nn").as("__nb"),
      side("a", "__h").as("__ha"), side("b", "__h").as("__hb"),
      side("a", "__ts").as("__tsa"), side("b", "__ts").as("__tsb"),
      side("a", "__ws").as("__wsa"), side("b", "__ws").as("__wsb"),
      side("a", "__ws2").as("__ws2a"), side("b", "__ws2").as("__ws2b"))
    def tm(ts: String, h: String): Column =
      col(ts).cast("double") / col(h).cast("double") / lit(1e6)
    def dI(ws: String, ws2: String, n: String, h: String): Column = {
      val sD = col(ws).cast("double")
      val hD = col(h).cast("double")
      (col(ws2).cast("double") - sD * sD / col(n).cast("double")) /
        (hD * (hD - lit(1.0))) / lit(1e12)
    }
    val dA = dI("__wsa", "__ws2a", "__na", "__ha")
    val dB = dI("__wsb", "__ws2b", "__nb", "__hb")
    val tmA = tm("__tsa", "__ha")
    val tmB = tm("__tsb", "__hb")
    val t = (tmA - tmB) / sqrt(dA + dB)
    val dfW = (dA + dB) * (dA + dB) /
      (dA * dA / (col("__ha").cast("double") - lit(1.0)) +
        dB * dB / (col("__hb").cast("double") - lit(1.0)))
    val ok = col("__ha") >= 2L && col("__hb") >= 2L && (dA + dB) > 0.0
    folded.select(
      col("__na").as("n_a"), col("__nb").as("n_b"),
      col("__ha").as("h_a"), col("__hb").as("h_b"),
      when(col("__ha") > 0L, round(tmA, 6)).as("tm_a"),
      when(col("__hb") > 0L, round(tmB, 6)).as("tm_b"),
      when(ok, round(t, 6)).as("t"),
      when(ok, round(dfW, 6)).as("df"))
  }

  /** Average precision (area under the precision-recall curve, the
    * threshold-sweep form) — [[binaryAuc]]'s partner for IMBALANCED
    * classes, where ROC-AUC flatters any classifier: AP weights each
    * recall step by the precision at that threshold,
    *
    *   AP = Σ_s (ΔR_s) · P_s  over distinct scores s descending,
    *
    * ties handled at the distinct-score level (every row with the same
    * score enters together — the only order both engines can agree
    * on). One row: `(n_pos, n_neg, ap)`; null when there are no
    * positives.
    *
    * Determinism: scores micro-quantize and collapse to the
    * distinct-score layer; cumulative counts are exact integers off
    * one descending window; each step's ΔR·P term nano-quantizes
    * before the score-bounded sum.
    *
    * Scale shape: one score-keyed map-combined aggregation, one
    * cumulative window over the DISTINCT-SCORE table (bounded — the
    * [[binaryAuc]] doctrine), one grand rollup.
    */
  def averagePrecision(df: DataFrame, positive: Column, score: Column): DataFrame = {
    def q(c: Column): Column = round(c * lit(1e6), 0).cast("long")
    val base = df.filter(positive.isNotNull)
      .select(when(positive, 1L).otherwise(0L).as("__y"), q(score).as("__s"))
      .filter(col("__s").isNotNull)
    val byVal = base.groupBy(col("__s"))
      .agg(count(lit(1)).as("__nv"), sum(col("__y")).as("__pv"))
    import org.apache.spark.sql.expressions.Window
    val wDesc = Window.orderBy(col("__s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = byVal.select(col("__nv"), col("__pv"),
      sum(col("__nv")).over(wDesc).as("__ca"),
      sum(col("__pv")).over(wDesc).as("__cp"))
    val tot = cum.agg(sum(col("__nv")).as("__n"), sum(col("__pv")).as("__P"))
    val term = when(col("__P") > 0L,
      round(col("__pv").cast("double") / col("__P").cast("double")
        * (col("__cp").cast("double") / col("__ca").cast("double"))
        * lit(1e9), 0).cast("long"))
    cum.crossJoin(broadcast(tot))
      .select(col("__n"), col("__P"), term.as("__t"))
      .groupBy(col("__n"), col("__P"))
      .agg(sum(col("__t")).as("__ap"))
      .select(col("__P").as("n_pos"), (col("__n") - col("__P")).as("n_neg"),
        when(col("__P") > 0L,
          round(col("__ap").cast("double") / lit(1e9), 6)).as("ap"))
  }

  /** Precision/recall/F1 at fixed thresholds — the operating-point
    * table behind [[averagePrecision]]'s single number: for each
    * threshold t, rows with score ≥ t are predicted positive, and the
    * row reports exact `(threshold, n_pred_pos, tp, precision, recall,
    * f1)`. The table a deployment actually reads to pick its cutoff.
    * Precision is null at thresholds predicting nothing; recall/f1
    * null when there are no positives.
    *
    * Determinism: thresholds quantize to micro (same grid as the
    * score), every cell is an exact conditional count in ONE grand
    * aggregation, and the ratios are fixed IEEE trees.
    *
    * Scale shape: one map-combined aggregation (3 sums per threshold),
    * then a threshold-bounded explode. No windows, no joins.
    */
  def prAtThresholds(df: DataFrame, positive: Column, score: Column,
                     thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty && thresholds.size <= 64,
      s"need 1..64 thresholds: ${thresholds.size}")
    def q(c: Column): Column = round(c * lit(1e6), 0).cast("long")
    val base = df.filter(positive.isNotNull)
      .select(when(positive, 1L).otherwise(0L).as("__y"), q(score).as("__s"))
      .filter(col("__s").isNotNull)
    val tq = thresholds.map(t => math.round(t * 1e6))
    val aggs = Seq(count(lit(1)).as("__n"), sum(col("__y")).as("__P")) ++
      tq.zipWithIndex.flatMap { case (t, i) =>
        Seq(sum(when(col("__s") >= t, 1L).otherwise(0L)).as(s"__pp$i"),
          sum(when(col("__s") >= t && col("__y") === 1L, 1L).otherwise(0L))
            .as(s"__tp$i"))
      }
    val agg = base.agg(aggs.head, aggs.tail: _*)
    val structs = array(thresholds.zipWithIndex.map { case (t, i) =>
      struct(lit(t).as("th"), col(s"__pp$i").as("pp"), col(s"__tp$i").as("tp"))
    }: _*)
    val e = agg.select(col("__P"), explode(structs).as("__e"))
    val ppD = col("__e.pp").cast("double")
    val tpD = col("__e.tp").cast("double")
    val pD = col("__P").cast("double")
    val prec = tpD / ppD
    val rec = tpD / pD
    val f1 = lit(2.0) * prec * rec / (prec + rec)
    e.select(col("__e.th").as("threshold"),
      col("__e.pp").as("n_pred_pos"), col("__e.tp").as("tp"),
      when(col("__e.pp") > 0L, round(prec, 6)).as("precision"),
      when(col("__P") > 0L, round(rec, 6)).as("recall"),
      when(col("__e.pp") > 0L && col("__P") > 0L && (prec + rec) > 0.0,
        round(f1, 6)).as("f1"))
  }

  /** Lin's concordance correlation coefficient — do two continuous
    * measurements AGREE (not merely correlate)? Pearson's r forgives
    * scale and location bias; CCC docks both:
    *
    *   CCC = 2·s_xy / (s_x² + s_y² + (x̄ − ȳ)²)
    *
    * (population moments, Lin 1989). The method-comparison number for
    * two scorers/annotators/sensors on the same scale. One row:
    * `(n, mean_x, mean_y, pearson_r, ccc)`; r and ccc null when
    * either variance is 0. Rows with either side null drop.
    *
    * Determinism: one grand aggregation of exact micro-quantized
    * power sums; r and CCC are single IEEE trees.
    *
    * Scale shape: ONE map-combined aggregation, 1-row output.
    */
  def linCcc(df: DataFrame, x: Column, y: Column): DataFrame = {
    val dec = DecimalType(38, 0)
    def q(c: Column): Column = round(c * lit(1e6), 0).cast("long")
    val base = df.filter(x.isNotNull && y.isNotNull)
      .select(q(x).as("__x"), q(y).as("__y"))
    val agg = base.agg(count(lit(1)).as("n"),
      sum(col("__x").cast(dec)).as("__sx"), sum(col("__y").cast(dec)).as("__sy"),
      sum(col("__x").cast(dec) * col("__x").cast(dec)).as("__sxx"),
      sum(col("__y").cast(dec) * col("__y").cast(dec)).as("__syy"),
      sum(col("__x").cast(dec) * col("__y").cast(dec)).as("__sxy"))
    val nD = col("n").cast("double")
    val sxD = col("__sx").cast("double")
    val syD = col("__sy").cast("double")
    val mx = sxD / nD / lit(1e6)
    val my = syD / nD / lit(1e6)
    // population second moments in value² units
    val vx = (col("__sxx").cast("double") - sxD * sxD / nD) / nD / lit(1e12)
    val vy = (col("__syy").cast("double") - syD * syD / nD) / nD / lit(1e12)
    val cxy = (col("__sxy").cast("double") - sxD * syD / nD) / nD / lit(1e12)
    val ok = col("n") >= 2 && vx > 0.0 && vy > 0.0
    agg.select(col("n"),
      round(mx, 6).as("mean_x"), round(my, 6).as("mean_y"),
      when(ok, round(cxy / sqrt(vx * vy), 6)).as("pearson_r"),
      when(ok, round(lit(2.0) * cxy /
        (vx + vy + (mx - my) * (mx - my)), 6)).as("ccc"))
  }

  /** Cochran-Armitage trend test — does a binary outcome's rate move
    * MONOTONICALLY with an ordered exposure score? Sharper than
    * [[chiSquareIndependence]] when the alternative is a trend (dose
    * response, quantity→return-rate): one row `(k, n, n_success, z,
    * chi2)` with
    *
    *   z = (N·Σs_i r_i − R·Σs_i n_i) · √N
    *       / √( R(N−R) · (N·Σs_i²n_i − (Σs_i n_i)²) )
    *
    * (level i has score s_i, n_i rows, r_i successes; R = Σr_i). The
    * sign of z is the direction of the trend; chi2 = z². Null when
    * k < 2 or the variance term is 0 (constant score or 0/100% success
    * everywhere).
    *
    * Determinism: scores cast to long (levels are ordinal BY
    * definition), every Σ is an exact decimal accumulation, the two
    * big products fold as one fixed IEEE tree — no per-level float
    * terms at all.
    *
    * Scale shape: one score-keyed map-combined aggregation, then a
    * level-cardinality-bounded rollup. No windows, no joins.
    */
  def cochranArmitage(df: DataFrame, score: Column, success: Column): DataFrame = {
    val dec = DecimalType(38, 0)
    val base = df.filter(score.isNotNull && success.isNotNull)
      .select(score.cast("long").as("__s"),
        when(success, 1L).otherwise(0L).as("__y"))
    val lev = base.groupBy(col("__s"))
      .agg(count(lit(1)).as("__n"), sum(col("__y")).as("__r"))
    val agg = lev.agg(count(lit(1)).as("k"), sum(col("__n")).as("n"),
      sum(col("__r")).as("__R"),
      sum(col("__s").cast(dec) * col("__n")).as("__sn"),
      sum(col("__s").cast(dec) * col("__r")).as("__sr"),
      sum(col("__s").cast(dec) * col("__s") * col("__n")).as("__ssn"))
    val a = (col("n").cast(dec) * col("__sr") - col("__R").cast(dec) * col("__sn"))
      .cast("double")
    val inner = (col("n").cast(dec) * col("__ssn") - col("__sn") * col("__sn"))
      .cast("double")
    val b = col("__R").cast("double") * (col("n") - col("__R")).cast("double") * inner
    val z = a * sqrt(col("n").cast("double")) / sqrt(b)
    agg.select(col("k"), col("n"), col("__R").as("n_success"),
      when(col("k") >= 2 && b > 0.0, round(z, 6)).as("z"),
      when(col("k") >= 2 && b > 0.0, round(z * z, 6)).as("chi2"))
  }

  /** Breslow-Day test for odds-ratio homogeneity — the follow-up
    * [[cmhTest]] needs: CMH's pooled OR is only meaningful if the
    * per-stratum ORs AGREE, and Breslow-Day is the test of that
    * agreement. One row `(n_strata, n, or_mh, chi2)` — chi2 against
    * χ²(n_strata−1); large values mean the strata have genuinely
    * different odds ratios and the pooled number hides structure.
    *
    * Per stratum, the expected exposed-positive count ẽ under the
    * common OR ψ solves (1−ψ)x² + [(n2−m1) + ψ(n1+m1)]x − ψn1m1 = 0
    * (the in-range root; the ψ=1 branch degenerates to n1m1/N), the
    * variance is the reciprocal-sum form, and the statistic sums
    * (a−ẽ)²/Var. Strata with a zero margin drop; n_strata counts the
    * contributors.
    *
    * Determinism: cells are exact counts; ψ is the quotient of the
    * same nano-quantized OR sums [[cmhTest]] publishes; the quadratic,
    * root choice, and reciprocal variance are one fixed IEEE tree per
    * stratum, nano-quantized before the strata-bounded sum.
    *
    * Scale shape: one stratum-keyed map-combined aggregation, a 1-row
    * OR broadcast back onto the bounded strata table, and a 1-row
    * reduction. No data-sized joins, no windows.
    */
  def breslowDay(df: DataFrame, stratum: Column, exposed: Column,
                 outcome: Column): DataFrame = {
    val dec = DecimalType(38, 0)
    val base = df.select(stratum.as("__s"),
        when(exposed, 1L).otherwise(0L).as("__e"),
        when(outcome, 1L).otherwise(0L).as("__o"))
      .filter(col("__s").isNotNull)
    val cells = base.groupBy(col("__s")).agg(
      sum(when(col("__e") === 1L && col("__o") === 1L, 1L).otherwise(0L)).as("__a"),
      sum(when(col("__e") === 1L && col("__o") === 0L, 1L).otherwise(0L)).as("__b"),
      sum(when(col("__e") === 0L && col("__o") === 1L, 1L).otherwise(0L)).as("__c"),
      sum(when(col("__e") === 0L && col("__o") === 0L, 1L).otherwise(0L)).as("__d"))
    def d(c: String): Column = col(c).cast("double")
    val nD = d("__a") + d("__b") + d("__c") + d("__d")
    def nano(c: Column): Column = round(c * lit(1e9), 0).cast(dec)
    val usable = cells.filter(
      col("__a") + col("__b") > 0L && col("__c") + col("__d") > 0L &&
        col("__a") + col("__c") > 0L && col("__b") + col("__d") > 0L)
    val orParts = usable.select(
        nano(d("__a") * d("__d") / nD).as("__orn"),
        nano(d("__b") * d("__c") / nD).as("__ord"))
      .agg(sum(col("__orn")).as("__so"), sum(col("__ord")).as("__sd"))
    val withOr = usable.crossJoin(broadcast(orParts))
    // ANSI raises on /0.0 even for doubles: a zero OR denominator
    // (no discordant pairs anywhere) nulls psi and every stratum term
    val sdD = col("__sd").cast("double")
    val psi = when(sdD =!= 0.0, col("__so").cast("double") / sdD)
    val n1 = d("__a") + d("__b")
    val n2 = d("__c") + d("__d")
    val m1 = d("__a") + d("__c")
    val qa = lit(1.0) - psi
    val qb = (n2 - m1) + psi * (n1 + m1)
    val qc = -psi * n1 * m1
    val disc = sqrt(qb * qb - lit(4.0) * qa * qc)
    val r1 = (-qb + disc) / (lit(2.0) * qa)
    val r2 = (-qb - disc) / (lit(2.0) * qa)
    val lo = greatest(lit(0.0), m1 - n2)
    val hi = least(n1, m1)
    val xq = when(qa === 0.0, n1 * m1 / nD)
      .when(r1 > lo && r1 < hi, r1)
      .otherwise(r2)
    val interior = xq > lo && xq < hi
    val recip = lit(1.0) / xq + lit(1.0) / (n1 - xq) +
      lit(1.0) / (m1 - xq) + lit(1.0) / (n2 - m1 + xq)
    val term = nano((d("__a") - xq) * (d("__a") - xq) * recip)
    val agg = withOr.select(
        when(interior, term).as("__t"),
        when(interior, 1L).otherwise(0L).as("__k"),
        (col("__a") + col("__b") + col("__c") + col("__d")).as("__n"),
        col("__so"), col("__sd"))
      .groupBy(col("__so"), col("__sd"))
      .agg(sum(col("__k")).as("n_strata"), sum(col("__n")).as("n"),
        sum(col("__t")).as("__chi"))
    agg.select(col("n_strata"), col("n"),
      when(col("__sd") > 0, round(col("__so").cast("double")
        / col("__sd").cast("double"), 6)).as("or_mh"),
      when(col("n_strata") >= 2 && col("__sd") > 0,
        round(col("__chi").cast("double") / lit(1e9), 6)).as("chi2"))
  }

  /** Fleiss' kappa — chance-corrected agreement among k ≥ 2 raters per
    * item, the multi-rater generalization of [[cohenKappa]] (which
    * compares exactly two). The annotation-QA number for ensemble
    * labeling pipelines: do the labelers agree beyond what their
    * marginal category rates force?
    *
    * With per-item category counts n_ic (Σ_c n_ic = k):
    *
    *   P_i = (Σ_c n_ic² − k) / (k(k−1)),   P̄ = mean_i P_i,
    *   p_c = Σ_i n_ic / (N·k),             P_e = Σ_c p_c²,
    *   κ   = (P̄ − P_e) / (1 − P_e)
    *
    * Returns one row `(n_items, n_raters, p_bar, p_e, kappa)`; κ is
    * null when P_e = 1 (all raters always emit one category — nothing
    * to correct against). Rows with a null item id or any null rating
    * drop (an absent rating would change that item's k).
    *
    * Determinism: P_i numerators stay exact integers over the shared
    * denominator k(k−1); each p_c² term nano-quantizes before the
    * category sum; P̄, P_e, κ are a fixed IEEE tree at the end.
    *
    * Scale shape: one k-way rating explode into an (item, category)
    * map-combined count, one item-keyed aggregation, one bounded
    * category aggregation with a broadcast 1-row total — no windows
    * over raw rows, no driver state beyond the category table.
    */
  def fleissKappa(df: DataFrame, itemCol: Column, raters: Seq[Column]): DataFrame = {
    val k = raters.size
    require(k >= 2 && k <= 64, s"need 2..64 raters: $k")
    val rcols = raters.zipWithIndex.map { case (r, i) => r.cast("string").as(s"__r$i") }
    val base = df.select(itemCol.as("__id") +: rcols: _*)
      .filter((0 until k).map(i => col(s"__r$i").isNotNull)
        .foldLeft(col("__id").isNotNull)(_ && _))
    val cells = base
      .select(col("__id"),
        explode(array((0 until k).map(i => col(s"__r$i")): _*)).as("__c"))
      .groupBy(col("__id"), col("__c"))
      .agg(count(lit(1)).as("__n"))
    val perItem = cells.groupBy(col("__id"))
      .agg((sum(col("__n") * col("__n")) - lit(k.toLong)).as("__num"))
    val itemAgg = perItem.agg(count(lit(1)).as("n_items"), sum(col("__num")).as("__sn"))
    val catTot = cells.groupBy(col("__c")).agg(sum(col("__n")).as("__t"))
    val pc = col("__t").cast("double")
      ./((col("n_items") * lit(k.toLong)).cast("double"))
    val peTerms = catTot.crossJoin(broadcast(itemAgg))
      .select(col("n_items"), col("__sn"),
        round(pc * pc * lit(1e9), 0).cast("long").as("__pe"))
    val agg = peTerms.groupBy(col("n_items"), col("__sn"))
      .agg(sum(col("__pe")).as("__spe"))
    val pbar = col("__sn").cast("double")
      ./((col("n_items") * lit((k * (k - 1)).toLong)).cast("double"))
    val pe = col("__spe").cast("double") / lit(1e9)
    agg.select(col("n_items"), lit(k).as("n_raters"),
      round(pbar, 6).as("p_bar"), round(pe, 6).as("p_e"),
      when(lit(1.0) - pe =!= 0.0, round((pbar - pe) / (lit(1.0) - pe), 6))
        .as("kappa"))
  }

  /** Krippendorff's alpha (nominal, complete-case) — the
    * reliability coefficient annotation shops quote alongside
    * [[fleissKappa]]: instead of correcting observed agreement against
    * rater marginals (kappa), it compares observed to expected
    * DISAGREEMENT over the pooled coincidence matrix:
    *
    *   D_o = 1 − Σ_u Σ_c n_uc(n_uc−1)/(k−1) / (Nk)
    *   D_e = 1 − Σ_c n_c(n_c−1) / (Nk(Nk−1)),   α = 1 − D_o/D_e
    *
    * One row `(n_items, n_raters, d_o, d_e, alpha)`; α is null when
    * D_e = 0 (one category everywhere — no disagreement possible).
    * Items with a null id or any null rating drop (complete-case: the
    * fixed-k form keeps every sum integral; Krippendorff's
    * missing-data form needs per-unit m_u weights).
    *
    * Determinism: A = Σn_uc(n_uc−1) and B = Σn_c(n_c−1) are exact
    * decimal sums; D_o, D_e, α are one fixed IEEE tree — no per-term
    * quantization needed at all.
    *
    * Scale shape: identical to [[fleissKappa]] — one rating explode to
    * (item, category) counts, an item-keyed aggregation, a bounded
    * category aggregation, two 1-row frames joined by broadcast.
    */
  def krippendorffAlpha(df: DataFrame, itemCol: Column, raters: Seq[Column]): DataFrame = {
    val k = raters.size
    require(k >= 2 && k <= 64, s"need 2..64 raters: $k")
    val dec = DecimalType(38, 0)
    val rcols = raters.zipWithIndex.map { case (r, i) => r.cast("string").as(s"__r$i") }
    val base = df.select(itemCol.as("__id") +: rcols: _*)
      .filter((0 until k).map(i => col(s"__r$i").isNotNull)
        .foldLeft(col("__id").isNotNull)(_ && _))
    val cells = base
      .select(col("__id"),
        explode(array((0 until k).map(i => col(s"__r$i")): _*)).as("__c"))
      .groupBy(col("__id"), col("__c"))
      .agg(count(lit(1)).as("__n"))
    val itemAgg = cells
      .groupBy(col("__id"))
      .agg(sum(col("__n").cast(dec) * (col("__n") - lit(1L)).cast(dec)).as("__au"))
      .agg(count(lit(1)).as("n_items"), sum(col("__au")).as("__a"))
    val catAgg = cells.groupBy(col("__c")).agg(sum(col("__n")).as("__t"))
      .agg(sum(col("__t").cast(dec) * (col("__t") - lit(1L)).cast(dec)).as("__b"))
    val joined = catAgg.crossJoin(broadcast(itemAgg))
    val nD = col("n_items").cast("double") * lit(k.toDouble)
    val dObs = lit(1.0) - col("__a").cast("double") /
      (lit((k - 1).toDouble) * nD)
    val dExp = lit(1.0) - col("__b").cast("double") / (nD * (nD - lit(1.0)))
    joined.select(col("n_items"), lit(k).as("n_raters"),
      round(dObs, 6).as("d_o"), round(dExp, 6).as("d_e"),
      when(dExp =!= 0.0, round(lit(1.0) - dObs / dExp, 6)).as("alpha"))
  }

  /** Dunn's test — the pairwise post-hoc that follows a significant
    * [[kruskalWallis]] the way [[tukeyHsd]] follows [[anovaOneWay]]:
    * which level pairs actually differ, judged on mean ranks from the
    * SHARED ranking of all levels (not per-pair re-ranks — that is
    * [[mannWhitneyU]] and it does not control the family error the
    * same way). One row per unordered pair:
    * `(level_a, level_b, n_a, n_b, mean_rank_a, mean_rank_b, z)` with
    *
    *   z = (R̄_a − R̄_b) / √( (N(N+1)/12 − Σ(t³−t)/(12(N−1))) · (1/n_a + 1/n_b) )
    *
    * (the standard tie-corrected variance). z is null when the
    * variance term is not positive (all values tied).
    *
    * Determinism: the distinct-value rank layer keeps 2·R_j and the
    * tie sum exact under any partitioning (the [[kruskalWallis]]
    * identity); mean ranks and z are fixed IEEE trees on the k-row
    * level table.
    *
    * Scale shape: one (level, value) aggregation, rank windows whose
    * whole-frame pass runs over the DISTINCT-VALUE table (bounded by
    * value cardinality — the documented bounded-window exception), a
    * k-row rollup, and pairs built by double-exploding the collected
    * k-row list on a 1-row frame ([[tukeyHsd]]'s join-free shape).
    */
  def dunnTest(df: DataFrame, level: Column, value: Column): DataFrame = {
    val dec = DecimalType(38, 0)
    def q(c: Column): Column = round(c * lit(1e6), 0).cast("long")
    val cells = df.select(level.cast("string").as("__l"), q(value).as("__x"))
      .filter(col("__l").isNotNull && col("__x").isNotNull)
      .groupBy(col("__l"), col("__x")).agg(count(lit(1)).as("__nlv"))
    import org.apache.spark.sql.expressions.Window
    val wCum = Window.orderBy(col("__x"))
      .rangeBetween(Window.unboundedPreceding, -1)
    val wVal = Window.partitionBy(col("__x"))
    val wValOrd = Window.partitionBy(col("__x")).orderBy(col("__l"))
    val ranked = cells.select(col("__l"), col("__nlv"),
      coalesce(sum(col("__nlv")).over(wCum), lit(0L)).as("__cb"),
      sum(col("__nlv")).over(wVal).as("__nv"),
      row_number().over(wValOrd).as("__rn"))
    val perLevel = ranked.groupBy(col("__l"))
      .agg(sum(col("__nlv")).as("__nj"),
        sum(col("__nlv").cast(dec) *
          (lit(2L) * col("__cb") + col("__nv") + lit(1L)).cast(dec)).as("__r2"),
        sum(when(col("__rn") === 1,
            col("__nv").cast(dec) * col("__nv") * col("__nv") - col("__nv").cast(dec))
          .otherwise(lit(0L).cast(dec))).as("__t3"))
    val grand = perLevel.agg(
      count(lit(1)).as("__k"), sum(col("__nj")).as("__n"),
      sum(col("__t3")).as("__t"),
      sort_array(collect_list(struct(col("__l"), col("__nj"), col("__r2"))))
        .as("__gs"))
    val pairs = grand
      .select(col("__n"), col("__t"), explode(col("__gs")).as("__a"), col("__gs"))
      .select(col("__n"), col("__t"), col("__a"), explode(col("__gs")).as("__b"))
      .filter(col("__a.__l") < col("__b.__l"))
    val nD = col("__n").cast("double")
    def meanRank(side: String): Column =
      col(s"__$side.__r2").cast("double") /
        (lit(2.0) * col(s"__$side.__nj").cast("double"))
    val sigma2 = nD * (nD + lit(1.0)) / lit(12.0) -
      col("__t").cast("double") / (lit(12.0) * (nD - lit(1.0)))
    val se = sqrt(sigma2 * (lit(1.0) / col("__a.__nj").cast("double")
      + lit(1.0) / col("__b.__nj").cast("double")))
    val z = (meanRank("a") - meanRank("b")) / se
    pairs.select(
      col("__a.__l").as("level_a"), col("__b.__l").as("level_b"),
      col("__a.__nj").as("n_a"), col("__b.__nj").as("n_b"),
      round(meanRank("a"), 6).as("mean_rank_a"),
      round(meanRank("b"), 6).as("mean_rank_b"),
      when(col("__n") >= 2 && sigma2 > 0.0, round(z, 6)).as("z"))
  }

  /** Mood's median test — the bluntest k-sample location test: does
    * each level put the same share of its rows above the GRAND median?
    * Coarser than [[kruskalWallis]] (it only looks at the median cut,
    * not the full ranking) but robust to wild outliers and defined for
    * ordinal data. One row: `(k, n, n_above, chi2)` — the 2×k
    * independence χ² of (level × above/at-or-below), null when k < 2
    * or the cut is degenerate (everything on one side).
    *
    * The cut is the LOWER MEDIAN of the micro-quantized values (the
    * ⌈N/2⌉-th order statistic) — an actual data value, so "above"
    * versus "at-or-below" is exact integer arithmetic with no
    * interpolation to disagree about.
    *
    * Determinism: the median comes off the distinct-value count table
    * (exact); per-level (n_i, a_i) are exact counts; each level's χ²
    * term nano-quantizes before the k-bounded sum.
    *
    * Scale shape: one distinct-value aggregation + a bounded
    * cumulative window over it (value cardinality), one level-keyed
    * count pass with the 1-row median broadcast, a k-row rollup. Two
    * corpus scans, no data-sized joins.
    */
  def moodMedianTest(df: DataFrame, groupCol: Column, value: Column): DataFrame = {
    def q(c: Column): Column = round(c * lit(1e6), 0).cast("long")
    val base = df.select(groupCol.as("__g"), q(value).as("__x"))
      .filter(col("__g").isNotNull && col("__x").isNotNull)
    val byVal = base.groupBy(col("__x")).agg(count(lit(1)).as("__nv"))
    import org.apache.spark.sql.expressions.Window
    val wCum = Window.orderBy(col("__x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = byVal.agg(sum(col("__nv")).as("__N"))
    val med = byVal.crossJoin(broadcast(tot))
      .withColumn("__cum", sum(col("__nv")).over(wCum))
      .filter(col("__cum") * lit(2L) >= col("__N"))
      .agg(min(col("__x")).as("__med"))
    val counts = base.crossJoin(broadcast(med))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("__ni"),
        sum(when(col("__x") > col("__med"), 1L).otherwise(0L)).as("__ai"))
    val roll = counts.agg(count(lit(1)).as("k"), sum(col("__ni")).as("n"),
      sum(col("__ai")).as("n_above"))
    val lvl = counts.crossJoin(broadcast(roll))
    val nD = col("n").cast("double")
    val aD = col("n_above").cast("double")
    val niD = col("__ni").cast("double")
    val aiD = col("__ai").cast("double")
    val ea = niD * aD / nD
    val eb = niD * (nD - aD) / nD
    // guard inside when(): ANSI Spark raises on /0.0 even for doubles,
    // and the degenerate cut (everything one side) nulls chi2 anyway
    val term = when(col("n_above") > 0L && col("n_above") < col("n"),
      round(((aiD - ea) * (aiD - ea) / ea
        + ((niD - aiD) - eb) * ((niD - aiD) - eb) / eb) * lit(1e9), 0).cast("long"))
    val agg = lvl.select(col("k"), col("n"), col("n_above"), term.as("__t"))
      .groupBy(col("k"), col("n"), col("n_above"))
      .agg(sum(col("__t")).as("__chi"))
    agg.select(col("k"), col("n"), col("n_above"),
      when(col("k") >= 2 && col("n_above") > 0L && col("n_above") < col("n"),
        round(col("__chi").cast("double") / lit(1e9), 6)).as("chi2"))
  }

  /** Delete-a-group jackknife SE for a RATIO estimator — the survey-
    * statistics variance method (Kott, "The Delete-a-Group Jackknife")
    * for numbers that are ratios of totals (price per unit, revenue per
    * head), where [[poissonBootstrapMeanCI]]'s per-mean resampling
    * doesn't apply. Each row hashes into one of `groups` deterministic
    * random groups g (seeded md5 — the repo's selection convention);
    * with total sums (Sx, Sy) and per-group (x_g, y_g),
    *
    *   r_g  = (Sx − x_g)/(Sy − y_g)          (leave-one-group-out ratio)
    *   se²  = (G−1)/G · Σ(r_g − r̄)²          over the G surviving groups
    *
    * Returns `(groups…, n, n_groups, ratio, jk_se, ci_lo, ci_hi)`:
    * `ratio` the full-sample Sx/Sy, ci = ratio ± 1.96·se. Groups whose
    * leave-out denominator is 0 drop (n_groups counts survivors); fewer
    * than 2 survivors, or Sy = 0, emit nulls.
    *
    * Determinism: micro-quantized decimal sums, leave-out ratios
    * nano-quantized before the cross-group moments — the jackknife sum
    * is exact integer arithmetic with two final IEEE steps (the
    * [[poissonBootstrapMeanCI]] discipline).
    *
    * Scale shape: one (groups…, g)-keyed map-combined aggregation (G
    * rows per group cell), bounded G-row windows over it, one final
    * per-group aggregate. The hash shuffle carries G·|groups| rows of
    * sums — never data.
    */
  def jackknifeRatio(df: DataFrame, groupBy: Seq[String], keyCol: Column,
                     num: Column, den: Column, groups: Int = 12,
                     seed: String = "jk"): DataFrame = {
    require(groupBy.nonEmpty, "jackknifeRatio needs group keys")
    require(groups >= 2 && groups <= 256, s"groups out of range: $groups")
    val dec = DecimalType(38, 0)
    val gCols = groupBy.map(col)
    val bucket = pmod(conv(substring(md5(concat_ws(":",
        lit(seed), keyCol.cast("string")).cast("binary")), 1, 8), 16, 10)
      .cast("long"), lit(groups.toLong))
    val base = df.select(gCols
        :+ bucket.as("__g")
        :+ round(num * lit(1e6), 0).cast(dec).as("__x")
        :+ round(den * lit(1e6), 0).cast(dec).as("__y"): _*)
      .filter(col("__x").isNotNull && col("__y").isNotNull)
    val perG = base.groupBy(gCols :+ col("__g"): _*)
      .agg(count(lit(1)).as("__c"), sum(col("__x")).as("__xg"),
        sum(col("__y")).as("__yg"))
    val W = org.apache.spark.sql.expressions.Window.partitionBy(gCols: _*)
    val withTot = perG.select(gCols ++ Seq(col("__c"), col("__xg"), col("__yg"),
      sum(col("__xg")).over(W).as("__sx"),
      sum(col("__yg")).over(W).as("__sy")): _*)
    // leave-one-out ratio in exact nanos; a zero leave-out denominator
    // (one group holds ALL the weight) survives as null and drops below
    val rq = when(col("__sy") - col("__yg") =!= lit(0).cast(dec),
      round((col("__sx") - col("__xg")).cast("double")
        / (col("__sy") - col("__yg")).cast("double") * lit(1e9), 0).cast(dec))
    val agg = withTot.withColumn("__rq", rq)
      .groupBy(gCols: _*)
      .agg(sum(col("__c")).as("n"),
        sum(when(col("__rq").isNotNull, 1L).otherwise(0L)).as("n_groups"),
        max(col("__sx")).as("__tx"), max(col("__sy")).as("__ty"),
        sum(col("__rq")).as("__sr"), sum(col("__rq") * col("__rq")).as("__sr2"))
    val gD = col("n_groups").cast("double")
    val ratio = col("__tx").cast("double") / col("__ty").cast("double")
    val se = sqrt((gD - lit(1.0)) / gD
      * (col("__sr2").cast("double")
        - col("__sr").cast("double") * col("__sr").cast("double") / gD)) / lit(1e9)
    val ok = col("n_groups") >= 2 && col("__ty") =!= lit(0).cast(dec)
    agg.select(gCols ++ Seq(col("n"), col("n_groups"),
      when(col("__ty") =!= lit(0).cast(dec), round(ratio, 6)).as("ratio"),
      when(ok, round(se, 6)).as("jk_se"),
      when(ok, round(ratio - lit(1.96) * se, 6)).as("ci_lo"),
      when(ok, round(ratio + lit(1.96) * se, 6)).as("ci_hi")): _*)
  }

  /** Kruskal-Wallis H — the k-sample generalization of [[mannWhitneyU]]
    * (and [[anovaOneWay]]'s nonparametric sibling): do k level
    * populations share a location, judged on ranks so skew and
    * outliers don't vote? Per group:
    * `(groups..., k, n, tie_cubes, h, h_tie)` where
    *
    *   H = 12/(N(N+1)) · Σ_j R_j²/n_j − 3(N+1)
    *
    * and `h_tie = H / (1 − Σ(t³−t)/(N³−N))` is the tie-corrected form
    * (null when every value ties — the correction divides by zero).
    * `h` is null when k < 2 or n ≤ k.
    *
    * Determinism: values micro-quantize, ranks collapse to the
    * distinct-value layer (2·rank_avg = 2·cum_before + n_v + 1 — exact
    * integers), so 2·R_j and the tie sum are exact decimal
    * accumulations under any partitioning; each level's R_j²/n_j term
    * micro-quantizes before the k-bounded sum (the [[anovaOneWay]]
    * discipline) and H is one fixed IEEE tree at the end.
    *
    * Scale shape: one (groups, level, value)-keyed map-combined
    * aggregation, two windows that share the group-keyed exchange
    * (the cumulative frame holds distinct values, the per-value frame
    * one value's levels — both bounded by value cardinality, never raw
    * rows), a (groups, level) rollup, and a final per-group rollup.
    * No joins.
    */
  def kruskalWallis(df: DataFrame, groupBy: Seq[String], level: Column,
                    value: Column): DataFrame = {
    require(groupBy.nonEmpty,
      "kruskalWallis needs group keys (use a constant column for a global test)")
    val dec = DecimalType(38, 0)
    def q(c: Column): Column = round(c * lit(1e6), 0).cast("long")
    val gCols = groupBy.map(col)
    val cells = df.select(
        gCols :+ level.cast("string").as("__l") :+ q(value).as("__x"): _*)
      .filter(col("__l").isNotNull && col("__x").isNotNull)
      .groupBy(gCols :+ col("__l") :+ col("__x"): _*)
      .agg(count(lit(1)).as("__nlv"))
    import org.apache.spark.sql.expressions.Window
    val wCum = Window.partitionBy(gCols: _*).orderBy(col("__x"))
      .rangeBetween(Window.unboundedPreceding, -1)
    val wVal = Window.partitionBy(gCols :+ col("__x"): _*)
    val wValOrd = Window.partitionBy(gCols :+ col("__x"): _*).orderBy(col("__l"))
    val ranked = cells.select(
      gCols :+ col("__l") :+ col("__nlv")
        :+ coalesce(sum(col("__nlv")).over(wCum), lit(0L)).as("__cb")
        :+ sum(col("__nlv")).over(wVal).as("__nv")
        :+ row_number().over(wValOrd).as("__rn"): _*)
    val perLevel = ranked.groupBy(gCols :+ col("__l"): _*)
      .agg(sum(col("__nlv")).as("__nj"),
        // 2·R_j exactly: Σ n_lv · (2·cum_before + n_v + 1)
        sum(col("__nlv").cast(dec) *
          (lit(2L) * col("__cb") + col("__nv") + lit(1L)).cast(dec)).as("__r2"),
        // tie cubes counted once per distinct value (first level row)
        sum(when(col("__rn") === 1,
            col("__nv").cast(dec) * col("__nv") * col("__nv") - col("__nv").cast(dec))
          .otherwise(lit(0L).cast(dec))).as("__t3"))
    // R_j²/n_j = (2R_j)²/(4n_j), micro-quantized before the k-sum;
    // square in double — decimal² overflows past |2R| ~ 1e19
    val r2d = col("__r2").cast("double")
    val termS = round(r2d * r2d / (lit(4.0) * col("__nj").cast("double"))
      * lit(1e6), 0).cast(dec)
    val agg = perLevel.groupBy(gCols: _*)
      .agg(count(lit(1)).as("k"), sum(col("__nj")).as("n"),
        sum(termS).as("__s"), sum(col("__t3")).as("__ties"))
    val nD = col("n").cast("double")
    val h = lit(12.0) / (nD * (nD + lit(1.0))) * (col("__s").cast("double") / lit(1e6)) -
      lit(3.0) * (nD + lit(1.0))
    val c = lit(1.0) - col("__ties").cast("double") / (nD * nD * nD - nD)
    val defined = col("k") >= 2 && col("n") > col("k")
    agg.select(gCols
      :+ col("k") :+ col("n")
      :+ col("__ties").cast("long").as("tie_cubes")
      :+ when(defined, round(h, 6)).as("h")
      :+ when(defined && c > 0.0, round(h / c, 6)).as("h_tie"): _*)
  }

  /** The `value` column of driver-held `rows` (of `schema`) keyed by
    * their `keys` columns, as one literal map: `lookup(key)` reads it for a
    * struct of the key columns. Every value carries its exact type.
    */
  private def literalMap(rows: Array[Row], schema: StructType, keys: Seq[String],
                         value: String): Column => Column = {
    val keyType = StructType(keys.map(schema(_)))
    val toKey = CatalystTypeConverters.createToCatalystConverter(keyType)
    val (ki, vi) = (keys.map(schema.fieldIndex), schema.fieldIndex(value))
    val toValue = CatalystTypeConverters.createToCatalystConverter(schema(vi).dataType)
    val map = ArrayBasedMapData(
      rows.map(r => toKey(Row.fromSeq(ki.map(r.get)))), rows.map(r => toValue(r.get(vi))))
    val mapLit = GraftColumns.ofExpr(Literal(map, MapType(keyType, schema(vi).dataType)))
    key => mapLit(key)
  }

  /** Huber M-estimator of location — the robust mean BETWEEN the mean
    * (efficient, outlier-fragile) and the median (robust, inefficient):
    * IRLS sweeps of the weighted mean with weights
    *
    *   w = min(1, c/|x − μ|)
    *
    * so points within `c` of the current center count fully and points
    * beyond count down-weighted by distance — at most `sweeps`
    * iterations from the exact mean, stopping at the exact fixed point
    * (a sweep that leaves every μ unchanged; IRLS on a convex loss
    * converges fast; emitting both `huber_mu` and `mean` makes the
    * outlier pull visible). Per group:
    * `(groupBy..., n, mean, huber_mu, w_sum)`.
    *
    * Determinism: x and the carried μ are integer micro units, so
    * |x − μ| is an EXACT integer and the w branch is an integer
    * comparison; per-row w·x and w quantize (micro) before the exact
    * group sums; μ re-quantizes to micro each sweep, and the oracle
    * replays every sweep CTE-for-CTE (the GLM iteration contract).
    *
    * Scale shape: at most `sweeps`+1 group-keyed map-combined
    * aggregations, each collected to the driver — nothing data-sized
    * ever joins or windows; state is the k-row μ table, which each
    * sweep reads as a literal group → μ map (an O(k) lookup per row).
    */
  def huberLocation(df: DataFrame, groupBy: Seq[String], value: Column,
                    c: Double, sweeps: Int = 4): DataFrame = {
    require(groupBy.nonEmpty, "huberLocation needs group keys")
    require(c > 0.0 && c.isFinite, s"c must be finite > 0: $c")
    require(sweeps >= 1 && sweeps <= 16, s"sweeps out of range: $sweeps")
    val dec = DecimalType(38, 0)
    val gCols = groupBy.map(col)
    val cMicro = BigDecimal(c).*(BigDecimal(1000000))
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    // the IRLS loop re-aggregates the (groups, x) projection once per
    // sweep — persist it so the input scans once, not sweeps+1 times
    // (r15: the logisticNewton/ipwAte causal-family discipline), and
    // release it on every exit path
    val base = df.select(gCols :+ round(value * lit(1e6), 0).cast("long").as("__x"): _*)
      .filter(gCols.map(_.isNotNull).reduce(_ && _) && col("__x").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the k-row mu table is driver-sized by contract: each generation is
    // collected, and the next sweep reads mu from a literal map of it (the
    // k-means-centers posture), so a sweep is its aggregate's exchange and
    // the collect, with no broadcast job and no checkpoint to release
    def held(q: DataFrame): (StructType, Array[Row]) = (q.schema, q.collect())
    def mus(g: (StructType, Array[Row])): Set[Seq[Any]] =
      g._2.map(r => (groupBy :+ "__mu").map(r.getAs[Any])).toSet
    def counts: Seq[Column] = Seq(count(lit(1)).as("__n"), sum(col("__x").cast(dec)).as("__s1"))
    val (schema, rows) =
      Observe.releasing(base) {
        val init = held(base.groupBy(gCols: _*).agg(counts.head, counts.tail: _*)
          .select(gCols :+ col("__n") :+ col("__s1")
            :+ round(col("__s1").cast("double") / col("__n").cast("double"), 0)
              .cast("long").as("__mu"): _*))
        // a sweep reads nothing but the previous mu, so one that leaves mu
        // unchanged is the fixed point: every later sweep repeats it
        Observe.iterate("huberLocation", init, sweeps) { case (sch, rows) =>
          val muOf = literalMap(rows, sch, groupBy, "__mu")(struct(gCols: _*))
          val d = abs(col("__x") - muOf)
          val w = when(d <= cMicro, lit(1.0))
            .otherwise(lit(cMicro.toDouble) / d.cast("double"))
          // n and s1 are recounted with the sweep's sums (exact integers),
          // so the aggregate is the next generation as it stands
          held(base.groupBy(gCols: _*)
            .agg(counts.head, counts.tail :+
              sum(round(w * col("__x").cast("double"), 0).cast(dec)).as("__wx") :+
              sum(round(w * lit(1e6), 0).cast("long").cast(dec)).as("__w"): _*)
            .select(gCols :+ col("__n") :+ col("__s1")
              :+ round(col("__wx").cast("double") * lit(1e6) /
                col("__w").cast("double"), 0).cast("long").as("__mu")
              :+ col("__w"): _*))
        }((prev, next) => mus(prev) == mus(next))._1
      }
    val mu = base.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    mu.select(gCols
      :+ col("__n").as("n")
      :+ round(col("__s1").cast("double") / col("__n").cast("double") / lit(1e6), 6)
        .as("mean")
      :+ round(col("__mu").cast("double") / lit(1e6), 6).as("huber_mu")
      :+ round(col("__w").cast("double") / lit(1e6), 6).as("w_sum"): _*)
  }

  /** Theil's uncertainty coefficient — DIRECTIONAL nominal association:
    * what fraction of Y's entropy does knowing X remove,
    *
    *   U(Y|X) = (H(Y) − H(Y|X)) / H(Y) = I(X;Y)/H(Y)
    *
    * (and symmetrically U(X|Y), plus the symmetric 2I/(H(X)+H(Y))) —
    * the association readout χ² can't give: χ² says "dependent",
    * U says "X predicts 34% of Y but Y predicts only 8% of X", the
    * asymmetry that matters when one column is the label. One row:
    * `(n, h_x, h_y, mi, u_yx, u_xy, u_sym)` (nats; U's null when the
    * corresponding entropy is 0 — a constant column predicts nothing
    * and cannot be predicted "more").
    *
    * Determinism: cell and marginal counts are exact; every c·ln c
    * nano-quantizes before its exact rollup (integer-arg ln);
    * H/I/U are fixed IEEE trees on those integers, 6 dp;
    * I = H(X) + H(Y) − H(X,Y) with all three from the same discipline.
    *
    * Scale shape: ONE (x, y)-keyed map-combined aggregation; marginals
    * and entropies reduce the cell table (levels²-bounded); three 1-row
    * broadcasts combine.
    */
  def uncertaintyCoefficient(df: DataFrame, xCat: Column, yCat: Column): DataFrame = {
    val dec = DecimalType(38, 0)
    val cells = df.select(xCat.cast("string").as("__x"), yCat.cast("string").as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
      .groupBy(col("__x"), col("__y"))
      .agg(count(lit(1)).as("__n"))
    def nln(c: Column): Column =
      round(c.cast("double") * log(c.cast("double")) * lit(1e9), 0).cast(dec)
    def hOf(grouped: DataFrame): DataFrame = grouped.agg(
      sum(col("__c")).as("__N"), sum(nln(col("__c"))).as("__nln"))
    val hx = hOf(cells.groupBy(col("__x")).agg(sum(col("__n")).as("__c")))
      .select(col("__N"), col("__nln").as("__lx"))
    val hy = hOf(cells.groupBy(col("__y")).agg(sum(col("__n")).as("__c")))
      .select(col("__nln").as("__ly"))
    val hxy = hOf(cells.select(col("__n").as("__c")))
      .select(col("__nln").as("__lxy"))
    val all = hx.crossJoin(broadcast(hy)).crossJoin(broadcast(hxy))
    val nD = col("__N").cast("double")
    def h(l: String): Column = log(nD) - col(l).cast("double") / lit(1e9) / nD
    val mi = h("__lx") + h("__ly") - h("__lxy")
    all.select(col("__N").cast("long").as("n"),
      round(h("__lx"), 6).as("h_x"),
      round(h("__ly"), 6).as("h_y"),
      round(mi, 6).as("mi"),
      when(h("__ly") > 0.0, round(mi / h("__ly"), 6)).as("u_yx"),
      when(h("__lx") > 0.0, round(mi / h("__lx"), 6)).as("u_xy"),
      when(h("__lx") + h("__ly") > 0.0,
        round(lit(2.0) * mi / (h("__lx") + h("__ly")), 6)).as("u_sym"))
  }

  /** Goodman–Kruskal ordinal association — concordance analysis of two
    * ORDERED categorical columns from their contingency cells: with
    * C/D = concordant/discordant pair totals and T_x/T_y = pairs tied
    * on exactly one margin,
    *
    *   gamma   = (C−D)/(C+D)                        (ties ignored)
    *   d_yx    = (C−D)/(C+D+T_y)                    (Somers', y dependent:
    *             denominator = pairs UNTIED ON X, i.e. C+D plus the pairs
    *             tied on y only — r12 fix, the r11 code divided by the
    *             tied-on-x term and so computed d_xy)
    *   tau_b   = (C−D)/√((C+D+T_x)(C+D+T_y))        (tie-symmetric)
    *
    * — the ordinal complement of [[spearman]] when both sides are
    * small-domain levels (ratings, buckets, priorities). One row:
    * `(n, c_pairs, d_pairs, tx_pairs, ty_pairs, gamma, somers_d_yx,
    * tau_b)` with tx_pairs = pairs tied on x ONLY (x equal, y differs)
    * and ty_pairs = pairs tied on y ONLY (y equal, x differs) — the
    * r11 labels were swapped; nulls when a denominator is 0.
    *
    * Determinism: all five pair totals are EXACT integers (cell-count
    * products summed as DECIMAL over the cell-pair join); the three
    * ratios are fixed IEEE trees, 6 dp.
    *
    * Scale shape: ONE (x, y)-keyed map-combined aggregation reduces the
    * data to its contingency cells; the pair totals come from a
    * cells×cells self-join BOUNDED BY THE LEVEL DOMAINS (levels², never
    * rows²) — the [[tukeyHsd]] k-bounded-pairs contract.
    */
  def gammaOrdinal(df: DataFrame, xOrd: Column, yOrd: Column): DataFrame = {
    val dec = DecimalType(38, 0)
    val cells = df.select(xOrd.cast("long").as("__x"), yOrd.cast("long").as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
      .groupBy(col("__x"), col("__y"))
      .agg(count(lit(1)).cast(dec).as("__n"))
    val right = cells.select(col("__x").as("__x2"), col("__y").as("__y2"),
      col("__n").as("__n2"))
    // strictly-greater x on the right counts every unordered pair once
    val j = cells.join(right, col("__x2") > col("__x"))
    val prod = col("__n") * col("__n2")
    // __ty: x differs (join is __x2 > __x), y equal → pairs tied on y ONLY
    val pairSums = j.agg(
      sum(when(col("__y2") > col("__y"), prod).otherwise(lit(0).cast(dec))).as("__c"),
      sum(when(col("__y2") < col("__y"), prod).otherwise(lit(0).cast(dec))).as("__d"),
      sum(when(col("__y2") === col("__y"), prod).otherwise(lit(0).cast(dec))).as("__ty"))
    // pairs tied on x but not y: within-cell-column arithmetic, same bound
    val txTbl = cells.join(
        cells.select(col("__x").as("__x3"), col("__y").as("__y3"), col("__n").as("__n3")),
        col("__x3") === col("__x") && col("__y3") > col("__y"))
      .agg(sum(col("__n") * col("__n3")).as("__tx"))
    val nTot = cells.agg(sum(col("__n")).as("__nt"))
    val all = pairSums.crossJoin(txTbl).crossJoin(nTot)
    def d(c: String): Column = coalesce(col(c), lit(0).cast(dec)).cast("double")
    val cd = d("__c") + d("__d")
    all.select(col("__nt").cast("long").as("n"),
      coalesce(col("__c"), lit(0).cast(dec)).cast("long").as("c_pairs"),
      coalesce(col("__d"), lit(0).cast(dec)).cast("long").as("d_pairs"),
      coalesce(col("__tx"), lit(0).cast(dec)).cast("long").as("tx_pairs"),
      coalesce(col("__ty"), lit(0).cast(dec)).cast("long").as("ty_pairs"),
      when(cd > 0.0, round((d("__c") - d("__d")) / cd, 6)).as("gamma"),
      when(cd + d("__ty") > 0.0,
        round((d("__c") - d("__d")) / (cd + d("__ty")), 6)).as("somers_d_yx"),
      when((cd + d("__tx")) * (cd + d("__ty")) > 0.0,
        round((d("__c") - d("__d")) /
          sqrt((cd + d("__tx")) * (cd + d("__ty"))), 6)).as("tau_b"))
  }

  /** p-chart — the attribute control chart [[graft.ops.Timeseries
    * .controlChart]]'s X-MR cannot give: per period t with nₜ trials
    * and sₜ successes, flag pₜ = sₜ/nₜ outside
    *
    *   p̄ ± 3·√( p̄(1−p̄)/nₜ )
    *
    * (limits WIDEN for small periods — the binomial variance law, which
    * a fixed-limit chart on rates gets wrong). Per series:
    * `(parts..., n_periods, trials, pbar, n_above, n_below)`.
    *
    * Determinism: the violation test cross-multiplies to integers where
    * possible — pₜ vs limit compares sₜ·n̄-scale exact products against
    * a nano-quantized limit per period — and p̄ is one exact-integer
    * ratio; flags are integer comparisons on quantized values, 6 dp
    * emits.
    *
    * Scale shape: one (series, period) aggregation, a series-bounded
    * p̄ broadcast join back, one series rollup — no windows at all.
    */
  def pChart(df: DataFrame, parts: Seq[String], periodCol: Column,
             success: Column): DataFrame = {
    require(parts.nonEmpty, "pChart needs series keys")
    val pCols = parts.map(col)
    val byT = df.select(pCols :+ periodCol.as("__t")
        :+ when(success, 1L).otherwise(0L).as("__s"): _*)
      .filter(col("__t").isNotNull && col("__s").isNotNull)
      .groupBy(pCols :+ col("__t"): _*)
      .agg(count(lit(1)).as("__n"), sum(col("__s")).as("__k"))
    val totals = byT.groupBy(pCols: _*)
      .agg(count(lit(1)).as("n_periods"), sum(col("__n")).as("trials"),
        sum(col("__k")).as("__ks"))
    val pbar = col("__ks").cast("double") / col("trials").cast("double")
    val joined = byT.join(
      broadcast(totals.select(pCols :+ col("n_periods") :+ col("trials")
        :+ pbar.as("__pb"): _*)), parts)
    val pT = col("__k").cast("double") / col("__n").cast("double")
    val half = lit(3.0) * sqrt(col("__pb") * (lit(1.0) - col("__pb")) /
      col("__n").cast("double"))
    // nano-quantize the period rate and both limits so the flag is an
    // integer comparison (the hampel/spc discipline)
    def nq(c: Column): Column = round(c * lit(1e9), 0).cast("long")
    val out = joined.groupBy(pCols: _*)
      .agg(first(col("n_periods")).as("n_periods"),
        first(col("trials")).as("trials"),
        first(col("__pb")).as("__pb2"),
        sum(when(nq(pT) > nq(col("__pb") + half), 1L).otherwise(0L)).as("n_above"),
        sum(when(nq(pT) < nq(col("__pb") - half), 1L).otherwise(0L)).as("n_below"))
    out.select(pCols :+ col("n_periods") :+ col("trials")
      :+ round(col("__pb2"), 6).as("pbar")
      :+ col("n_above") :+ col("n_below"): _*)
  }

  /** Jarque-Bera normality test — does a value column's shape look
    * Gaussian? Per group: `(groups..., n, skewness, kurtosis, jb)`
    * with
    *
    *   JB = n/6 · (S² + (K−3)²/4)
    *
    * (K the raw kurtosis; 3 for a normal). The pre-flight check before
    * anything that assumes normal tails — [[welchT]]'s t, control
    * charts, ±kσ outlier fences.
    *
    * Determinism: pass 1 computes exact micro-quantized power sums
    * (n, Σx, Σx²) per group; mean and sd derive from them in one fixed
    * IEEE tree, broadcast back (group-cardinality-bounded), and pass 2
    * accumulates per-row standardized z³/z⁴ micro-quantized to
    * integers — exact decimal sums under any partitioning. z is
    * dimensionless so the micro scaling cancels.
    *
    * Scale shape: two corpus passes — a group-keyed map-combined
    * aggregation, then a broadcast join of the tiny stats table and a
    * second map-combined aggregation. No windows, no driver state
    * beyond the group table.
    */
  def jarqueBera(df: DataFrame, groupBy: Seq[String], value: Column): DataFrame = {
    require(groupBy.nonEmpty,
      "jarqueBera needs group keys (use a constant column for a global test)")
    val dec = DecimalType(38, 0)
    def q(c: Column): Column = round(c * lit(1e6), 0).cast("long")
    val gCols = groupBy.map(col)
    val base = df.select(gCols :+ q(value).as("__x"): _*)
      .filter(gCols.map(_.isNotNull).reduce(_ && _) && col("__x").isNotNull)
    val stats = base.groupBy(gCols: _*)
      .agg(count(lit(1)).as("__n"),
        sum(col("__x").cast(dec)).as("__s1"),
        sum(col("__x").cast(dec) * col("__x").cast(dec)).as("__s2"))
    val nD = col("__n").cast("double")
    val s1d = col("__s1").cast("double")
    val mu = s1d / nD
    val sd = sqrt((col("__s2").cast("double") - s1d * s1d / nD) / (nD - lit(1.0)))
    val withStats = base.join(
      broadcast(stats.select(gCols :+ col("__n") :+ mu.as("__mu") :+ sd.as("__sd"): _*)),
      groupBy)
    val z = (col("__x").cast("double") - col("__mu")) / col("__sd")
    val agg = withStats.groupBy(gCols: _*)
      .agg(first(col("__n")).as("n"),
        sum(when(col("__sd") > 0.0, round(z * z * z * lit(1e6), 0).cast(dec))).as("__z3"),
        sum(when(col("__sd") > 0.0, round(z * z * z * z * lit(1e6), 0).cast(dec))).as("__z4"))
    val nD2 = col("n").cast("double")
    val skew = col("__z3").cast("double") / lit(1e6) / nD2
    val kurt = col("__z4").cast("double") / lit(1e6) / nD2
    val jb = nD2 / lit(6.0) * (skew * skew + (kurt - lit(3.0)) * (kurt - lit(3.0)) / lit(4.0))
    val ok = col("n") >= 2 && col("__z4").isNotNull
    agg.select(gCols
      :+ col("n")
      :+ when(ok, round(skew, 6)).as("skewness")
      :+ when(ok, round(kurt, 6)).as("kurtosis")
      :+ when(ok, round(jb, 6)).as("jb"): _*)
  }

  /** D'Agostino's K² omnibus normality test — [[jarqueBera]]'s
    * small-sample-honest sibling: the same skewness/kurtosis evidence,
    * but each moment passes through its exact finite-n normalizing
    * transform (D'Agostino 1970's Z₁ for √b₁; Anscombe–Glynn 1983's Z₂
    * for b₂) before the χ²₂ combination K² = Z₁² + Z₂², so the null
    * distribution holds at n = 20 where JB's asymptotics badly
    * under-reject. Per group:
    * `(groupBy..., n, g1, b2, z1, z2, k2)` with g1 = m₃/m₂^{3/2} and
    * b2 = m₄/m₂² (biased central moments — the convention the
    * transforms were derived for); all five statistics null when
    * n < 8 or the group is constant. The n ≥ 8 gate is structural,
    * not cosmetic (r12, ADVICE): for n ≤ 7 the Z₁ transform's
    * β₂(√b₁) ≤ 3, so W² ≤ 1 and δ = 1/√ln(√W²) is NaN (n = 5, 6) or
    * ∞ (n = 7) — n = 8 is the smallest n where every intermediate is
    * finite, the standard minimum for D'Agostino's skewness transform.
    *
    * Determinism: the [[jarqueBera]] spine verbatim — exact integer
    * first/second moments give μ and the sample sd, per-row z³/z⁴
    * micro-quantize before the exact group sums, and g1/b2/Z₁/Z₂/K²
    * are fixed IEEE trees on those integers (asinh spelled
    * ln(x + √(x²+1)) so both engines evaluate the identical tree), 6 dp.
    *
    * Scale shape: two map-side-combined aggregations with a broadcast
    * mean/sd join between — the [[jarqueBera]] contract.
    */
  def dagostinoK2(df: DataFrame, groupBy: Seq[String], value: Column): DataFrame = {
    require(groupBy.nonEmpty,
      "dagostinoK2 needs group keys (use a constant column for a global test)")
    val dec = DecimalType(38, 0)
    def q(c: Column): Column = round(c * lit(1e6), 0).cast("long")
    val gCols = groupBy.map(col)
    val base = df.select(gCols :+ q(value).as("__x"): _*)
      .filter(gCols.map(_.isNotNull).reduce(_ && _) && col("__x").isNotNull)
    val stats = base.groupBy(gCols: _*)
      .agg(count(lit(1)).as("__n"),
        sum(col("__x").cast(dec)).as("__s1"),
        sum(col("__x").cast(dec) * col("__x").cast(dec)).as("__s2"))
    val nD0 = col("__n").cast("double")
    val s1d = col("__s1").cast("double")
    val mu = s1d / nD0
    val sd = sqrt((col("__s2").cast("double") - s1d * s1d / nD0) / (nD0 - lit(1.0)))
    val withStats = base.join(
      broadcast(stats.select(gCols :+ col("__n") :+ mu.as("__mu") :+ sd.as("__sd"): _*)),
      groupBy)
    val z = (col("__x").cast("double") - col("__mu")) / col("__sd")
    val agg = withStats.groupBy(gCols: _*)
      .agg(first(col("__n")).as("n"),
        sum(when(col("__sd") > 0.0, round(z * z * z * lit(1e6), 0).cast(dec))).as("__z3"),
        sum(when(col("__sd") > 0.0, round(z * z * z * z * lit(1e6), 0).cast(dec))).as("__z4"))
    val n = col("n").cast("double")
    // biased-moment ratios from the sample-sd z moments:
    // g1 = (Σz³/n)·(n/(n−1))^{3/2},  b2 = (Σz⁴/n)·(n/(n−1))²
    val ratio = n / (n - lit(1.0))
    val g1 = col("__z3").cast("double") / lit(1e6) / n * pow(ratio, lit(1.5))
    val b2 = col("__z4").cast("double") / lit(1e6) / n * ratio * ratio
    // Z1 (D'Agostino 1970): asinh-stabilized skewness
    val y = g1 * sqrt((n + lit(1.0)) * (n + lit(3.0)) / (lit(6.0) * (n - lit(2.0))))
    val beta2 = lit(3.0) * (n * n + lit(27.0) * n - lit(70.0)) * (n + lit(1.0)) *
      (n + lit(3.0)) /
      ((n - lit(2.0)) * (n + lit(5.0)) * (n + lit(7.0)) * (n + lit(9.0)))
    val w2 = sqrt(lit(2.0) * (beta2 - lit(1.0))) - lit(1.0)
    val delta = lit(1.0) / sqrt(log(sqrt(w2)))
    val alpha = sqrt(lit(2.0) / (w2 - lit(1.0)))
    val ya = y / alpha
    val z1 = delta * log(ya + sqrt(ya * ya + lit(1.0)))
    // Z2 (Anscombe–Glynn 1983): Wilson–Hilferty cube-root on b2
    val eb2 = lit(3.0) * (n - lit(1.0)) / (n + lit(1.0))
    val vb2 = lit(24.0) * n * (n - lit(2.0)) * (n - lit(3.0)) /
      ((n + lit(1.0)) * (n + lit(1.0)) * (n + lit(3.0)) * (n + lit(5.0)))
    val xs = (b2 - eb2) / sqrt(vb2)
    val sb1 = lit(6.0) * (n * n - lit(5.0) * n + lit(2.0)) /
      ((n + lit(7.0)) * (n + lit(9.0))) *
      sqrt(lit(6.0) * (n + lit(3.0)) * (n + lit(5.0)) /
        (n * (n - lit(2.0)) * (n - lit(3.0))))
    val a = lit(6.0) + lit(8.0) / sb1 *
      (lit(2.0) / sb1 + sqrt(lit(1.0) + lit(4.0) / (sb1 * sb1)))
    val z2 = ((lit(1.0) - lit(2.0) / (lit(9.0) * a)) -
      cbrt((lit(1.0) - lit(2.0) / a) /
        (lit(1.0) + xs * sqrt(lit(2.0) / (a - lit(4.0)))))) /
      sqrt(lit(2.0) / (lit(9.0) * a))
    val ok = col("n") >= 8 && col("__z4").isNotNull
    agg.select(gCols
      :+ col("n")
      :+ when(ok, round(g1, 6)).as("g1")
      :+ when(ok, round(b2, 6)).as("b2")
      :+ when(ok, round(z1, 6)).as("z1")
      :+ when(ok, round(z2, 6)).as("z2")
      :+ when(ok, round(z1 * z1 + z2 * z2, 6)).as("k2"): _*)
  }

  /** Cochran's Q — do k binary treatments share a success rate across
    * the same subjects? The k-treatment generalization of [[mcnemar]]
    * (which compares exactly two), and the repeated-measures sibling
    * of [[chiSquareIndependence]]: each subject is its own control, so
    * between-subject variation cancels. One row: `(n, k, q)` with
    *
    *   Q = (k−1)·(k·ΣT_j² − S²) / (k·ΣR_i − ΣR_i²)
    *
    * (T_j treatment column totals, S = ΣT_j, R_i subject row sums) —
    * the algebraic form that keeps EVERYTHING integral: numerator and
    * denominator are exact decimal sums under any partitioning, Q one
    * IEEE division. Null when the denominator is 0 (every subject all-0
    * or all-1 — no within-subject variation to test). Rows with any
    * null item drop (an absent treatment would change that row's k).
    *
    * Scale shape: ONE map-combined grand aggregation (k+2 sums), no
    * windows, no joins, 1-row output.
    *
    * @param items k boolean/0-1 columns, one per treatment
    */
  def cochranQ(df: DataFrame, items: Seq[Column]): DataFrame = {
    val k = items.size
    require(k >= 2 && k <= 64, s"need 2..64 treatments: $k")
    val dec = DecimalType(38, 0)
    val bcols = items.zipWithIndex.map { case (c, i) =>
      when(c.cast("boolean"), 1L).otherwise(0L).as(s"__i$i")
    }
    val notNull = items.map(_.isNotNull).reduce(_ && _)
    val base = df.filter(notNull).select(bcols: _*)
    val rowSum = (0 until k).map(i => col(s"__i$i")).reduce(_ + _)
    val aggCols = Seq(count(lit(1)).as("n"),
        sum(col("__r").cast(dec)).as("__sr"),
        sum((col("__r") * col("__r")).cast(dec)).as("__sr2")) ++
      (0 until k).map(i => sum(col(s"__i$i").cast(dec)).as(s"__t$i"))
    val agg = base.select((0 until k).map(i => col(s"__i$i"))
        :+ rowSum.as("__r"): _*)
      .agg(aggCols.head, aggCols.tail: _*)
    val st2 = (0 until k).map(i => col(s"__t$i") * col(s"__t$i")).reduce(_ + _)
    val s = (0 until k).map(i => col(s"__t$i")).reduce(_ + _)
    val num = (lit(k.toLong).cast(dec) * st2 - s * s).cast("double") * lit((k - 1).toDouble)
    val den = (lit(k.toLong).cast(dec) * col("__sr") - col("__sr2")).cast("double")
    agg.select(col("n"), lit(k).as("k"),
      when(den > 0.0, round(num / den, 6)).as("q"))
  }

  /** Cronbach's alpha — internal-consistency reliability of a k-item
    * score: do the items move together enough to be summed into one
    * scale? THE number quoted for any multi-item quality rubric
    * (doc-quality sub-scores, eval sub-metrics) before its total is
    * trusted. One row: `(n, k, item_var_sum, total_var, alpha)` with
    *
    *   α = k/(k−1) · (1 − Σ_j s_j² / s_total²)
    *
    * (sample variances, n−1). Null alpha when total variance is 0
    * (constant total score). Rows with any null item drop.
    *
    * Determinism: items micro-quantize; the single grand aggregation
    * carries exact integer power sums for each item AND the row total
    * (2k+3 sums); the k-term variance sum folds in fixed column order
    * and α is one IEEE tree at the end.
    *
    * Scale shape: ONE map-combined grand aggregation, no windows, no
    * joins, 1-row output.
    */
  def cronbachAlpha(df: DataFrame, items: Seq[Column]): DataFrame = {
    val k = items.size
    require(k >= 2 && k <= 64, s"need 2..64 items: $k")
    val dec = DecimalType(38, 0)
    def q(c: Column): Column = round(c.cast("double") * lit(1e6), 0).cast("long")
    val qcols = items.zipWithIndex.map { case (c, i) => q(c).as(s"__i$i") }
    val notNull = items.map(_.isNotNull).reduce(_ && _)
    val base = df.filter(notNull).select(qcols: _*)
    val total = (0 until k).map(i => col(s"__i$i")).reduce(_ + _)
    val aggCols = Seq(count(lit(1)).as("n"),
        sum(col("__tt").cast(dec)).as("__ts"),
        sum(col("__tt").cast(dec) * col("__tt").cast(dec)).as("__ts2")) ++
      (0 until k).flatMap(i => Seq(
        sum(col(s"__i$i").cast(dec)).as(s"__s$i"),
        sum(col(s"__i$i").cast(dec) * col(s"__i$i").cast(dec)).as(s"__q$i")))
    val agg = base.select((0 until k).map(i => col(s"__i$i")) :+ total.as("__tt"): _*)
      .agg(aggCols.head, aggCols.tail: _*)
    val nD = col("n").cast("double")
    def sVar(s1: Column, s2: Column): Column =
      (s2.cast("double") - s1.cast("double") * s1.cast("double") / nD) /
        (nD - lit(1.0)) / lit(1e12)
    val itemVar = (0 until k)
      .map(i => sVar(col(s"__s$i"), col(s"__q$i"))).reduce(_ + _)
    val totVar = sVar(col("__ts"), col("__ts2"))
    val alpha = lit(k.toDouble / (k - 1).toDouble) * (lit(1.0) - itemVar / totVar)
    agg.select(col("n"), lit(k).as("k"),
      when(col("n") >= 2, round(itemVar, 6)).as("item_var_sum"),
      when(col("n") >= 2, round(totVar, 6)).as("total_var"),
      when(col("n") >= 2 && totVar > 0.0, round(alpha, 6)).as("alpha"))
  }

  /** Friedman test — the nonparametric repeated-measures ANOVA: k
    * treatments ranked WITHIN each block (subject), so between-block
    * level differences cancel the way [[pairedT]] cancels them for
    * k = 2 and [[kruskalWallis]] cannot. One row:
    * `(k, n_blocks, tie_cubes, chi2_f, chi2_tie)` with
    *
    *   χ²_F = 12/(n·k(k+1)) · Σ_j R_j² − 3n(k+1)
    *
    * and `chi2_tie = χ²_F / (1 − Σ(t³−t)/(nk(k²−1)))` (ties summed
    * within blocks; null when every block is fully tied). Blocks
    * missing any treatment DROP (Friedman requires a complete design);
    * duplicate (block, treatment) observations sum before ranking,
    * both documented.
    *
    * Determinism: values micro-quantize; within-block doubled average
    * ranks come from the 2·rank identity over two windows whose frames
    * hold at most k rows; 2·R_j and the tie sum are exact decimal
    * accumulations; each treatment's R_j² term micro-quantizes before
    * the k-bounded sum and χ² is one fixed IEEE tree.
    *
    * Scale shape: one (block, treatment)-keyed map-combined
    * aggregation, a 1-row treatment-count broadcast, block-partitioned
    * windows with k-bounded frames, a k-row treatment rollup, and a
    * 1-row reduction. No data-sized joins.
    */
  def friedman(df: DataFrame, block: Column, treatment: Column,
               value: Column): DataFrame = {
    val dec = DecimalType(38, 0)
    def q(c: Column): Column = round(c * lit(1e6), 0).cast("long")
    val base0 = df.select(block.cast("string").as("__b"),
        treatment.cast("string").as("__t"), q(value).as("__x"))
      .filter(col("__b").isNotNull && col("__t").isNotNull && col("__x").isNotNull)
      .groupBy(col("__b"), col("__t"))
      .agg(sum(col("__x")).as("__x"))
    val kRow = base0.agg(countDistinct(col("__t")).as("__k"))
    import org.apache.spark.sql.expressions.Window
    val wB = Window.partitionBy(col("__b"))
    val complete = base0.crossJoin(broadcast(kRow))
      .withColumn("__cb", count(lit(1)).over(wB))
      .filter(col("__cb") === col("__k"))
    val wLt = Window.partitionBy(col("__b")).orderBy(col("__x"))
      .rangeBetween(Window.unboundedPreceding, -1)
    val wEq = Window.partitionBy(col("__b"), col("__x"))
    val wEqOrd = Window.partitionBy(col("__b"), col("__x")).orderBy(col("__t"))
    val ranked = complete.select(col("__t"), col("__k"),
      (lit(2L) * count(lit(1)).over(wLt) + count(lit(1)).over(wEq) + lit(1L))
        .as("__r2"),
      count(lit(1)).over(wEq).as("__m"),
      row_number().over(wEqOrd).as("__rn"))
    val perTreat = ranked.groupBy(col("__t"), col("__k"))
      .agg(count(lit(1)).as("__n"),
        sum(col("__r2").cast(dec)).as("__r2j"),
        sum(when(col("__rn") === 1,
            col("__m").cast(dec) * col("__m") * col("__m") - col("__m").cast(dec))
          .otherwise(lit(0L).cast(dec))).as("__t3"))
    // R_j² = (2R_j)²/4, micro-quantized before the k-sum (square in
    // double — the kruskalWallis discipline)
    val r2d = col("__r2j").cast("double")
    val termS = round(r2d * r2d / lit(4.0) * lit(1e6), 0).cast(dec)
    val agg = perTreat.groupBy(col("__k"))
      .agg(max(col("__n")).as("n_blocks"), sum(termS).as("__s"),
        sum(col("__t3")).as("__ties"))
    val kD = col("__k").cast("double")
    val nD = col("n_blocks").cast("double")
    val chi2 = lit(12.0) / (nD * kD * (kD + lit(1.0))) *
      (col("__s").cast("double") / lit(1e6)) - lit(3.0) * nD * (kD + lit(1.0))
    val c = lit(1.0) - col("__ties").cast("double") /
      (nD * kD * (kD * kD - lit(1.0)))
    val defined = col("__k") >= 2 && col("n_blocks") >= 1
    agg.select(col("__k").as("k"), col("n_blocks"),
      col("__ties").cast("long").as("tie_cubes"),
      when(defined, round(chi2, 6)).as("chi2_f"),
      when(defined && c > 0.0, round(chi2 / c, 6)).as("chi2_tie"))
  }

  /** Page's L trend test — [[friedman]]'s ORDERED-alternative sibling:
    * not "do the k treatments differ?" but "do they increase in a
    * hypothesized order?" (dose levels, model-size ladder, week order):
    *
    *   L = Σ_j c_j·R_j   (c_j = 1..k in the treatment sort order,
    *                      R_j the treatment's within-block rank sum)
    *   E[L] = m·k(k+1)²/4,  Var[L] = m·k²(k+1)²(k−1)/144,
    *   z = (L − E)/√Var
    *
    * Midranks handle ties (the [[friedman]] doubled-rank layer: 2L is
    * an exact integer); the variance is the no-ties form, stated.
    *
    * Scale shape: [[friedman]]'s block-local rank windows + a k-row
    * treatment rollup; the order index is a window over the K-ROW
    * table.
    *
    * @return 1 row (k, n_blocks, l, z)
    */
  def pageTrend(df: DataFrame, block: Column, treatment: Column,
                value: Column): DataFrame = {
    val dec = DecimalType(38, 0)
    def q(c: Column): Column = round(c * lit(1e6), 0).cast("long")
    val base0 = df.select(block.cast("string").as("__b"),
        treatment.cast("string").as("__t"), q(value).as("__x"))
      .filter(col("__b").isNotNull && col("__t").isNotNull && col("__x").isNotNull)
      .groupBy(col("__b"), col("__t"))
      .agg(sum(col("__x")).as("__x"))
    val kRow = base0.agg(countDistinct(col("__t")).as("__k"))
    import org.apache.spark.sql.expressions.Window
    val wB = Window.partitionBy(col("__b"))
    val complete = base0.crossJoin(broadcast(kRow))
      .withColumn("__cb", count(lit(1)).over(wB))
      .filter(col("__cb") === col("__k"))
    val wLt = Window.partitionBy(col("__b")).orderBy(col("__x"))
      .rangeBetween(Window.unboundedPreceding, -1)
    val wEq = Window.partitionBy(col("__b"), col("__x"))
    val ranked = complete.select(col("__t"), col("__k"),
      (lit(2L) * count(lit(1)).over(wLt) + count(lit(1)).over(wEq) + lit(1L))
        .as("__r2"))
    val perTreat = ranked.groupBy(col("__t"), col("__k"))
      .agg(count(lit(1)).as("__n"), sum(col("__r2").cast(dec)).as("__r2j"))
    val wOrd = Window.orderBy(col("__t"))
    val withC = perTreat
      .withColumn("__c", row_number().over(wOrd).cast("long"))
    val agg = withC.groupBy(col("__k"))
      .agg(max(col("__n")).as("n_blocks"),
        sum(col("__c").cast(dec) * col("__r2j")).as("__l2"))
    val kD = col("__k").cast("double")
    val mD = col("n_blocks").cast("double")
    val lD = col("__l2").cast("double") / lit(2.0)
    val e = mD * kD * (kD + lit(1.0)) * (kD + lit(1.0)) / lit(4.0)
    val v = mD * kD * kD * (kD + lit(1.0)) * (kD + lit(1.0)) * (kD - lit(1.0)) /
      lit(144.0)
    val ok = col("__k") >= 3 && col("n_blocks") >= 2 && v > 0.0
    agg.select(col("__k").as("k"), col("n_blocks"),
      round(lD, 6).as("l"),
      when(ok, round((lD - e) / sqrt(v), 6)).as("z"))
  }

  /** Jonckheere-Terpstra ordered-alternative k-sample test — "do the
    * groups shift UP in their sort order?" (dose, cohort age, model
    * size): the one-directional power [[kruskalWallis]]-style omnibus
    * tests give away:
    *
    *   J = Σ_{i<j} U_ij   (U_ij = #{x_i < x_j} + ½#{x_i = x_j})
    *   E[J] = (N² − Σn_i²)/4
    *   Var  = (N²(2N+3) − Σn_i²(2n_i+3))/72   (no-tie form, stated)
    *
    * Determinism: groups reduce to (group, value) counts; each ordered
    * pair's U runs as a Mann-Whitney over the pair's MERGED value
    * stream (a strictly-below RANGE window + a tie frame, both
    * partitioned by the pair tag), and 2J = Σ c_j·(2F_i + c_i) stays an
    * exact integer (the half-tie doubling trick).
    *
    * Scale shape: one (group, value) aggregation; the k-bounded group
    * list collects to the driver (the k-means-centers posture) so the
    * pair explode is a narrow literal fanout of ≤ k−1 per row; pair
    * windows move k²·|distinct values| rows, never row-quadratic.
    *
    * @return 1 row (k, n, j, z); group order = lexicographic
    */
  def jonckheereTerpstra(df: DataFrame, groupCol: Column,
                         value: Column): DataFrame = {
    val dec = DecimalType(38, 0)
    val q = round(value * lit(1e6), 0).cast("long")
    val counts = df.select(groupCol.cast("string").as("__g"), q.as("__x"))
      .filter(col("__g").isNotNull && col("__x").isNotNull)
      .groupBy(col("__g"), col("__x"))
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint(true) // reused: group list, sizes, pair stream
    // group list is k-bounded BY DEFINITION — driver literals (the
    // k-means-centers posture), so the pair explode stays narrow and
    // no non-equi join ever reaches the plan guard
    val groups = Observe.sortedCollect(counts.select(col("__g")).distinct(), "__g")
      .map(_.getString(0)).toSeq
    val pairs = for {
      i <- groups.indices
      j <- groups.indices
      if groups(i) < groups(j)
    } yield (groups(i), groups(j))
    import org.apache.spark.sql.expressions.Window
    val j2 =
      if (pairs.isEmpty)
        counts.sparkSession.range(1).select(lit(0L).cast(dec).as("__j2"))
      else {
        val pairLits = array(pairs.map { case (i, j) =>
          struct(lit(i).as("pi"), lit(j).as("pj"))
        }: _*)
        val ex = counts
          .withColumn("__p", explode(pairLits))
          .filter(col("__g") === col("__p.pi") || col("__g") === col("__p.pj"))
        val wBelow = Window.partitionBy(col("__p")).orderBy(col("__x"))
          .rangeBetween(Long.MinValue, -1)
        val wEq = Window.partitionBy(col("__p"), col("__x"))
        val ci = when(col("__g") === col("__p.pi"), col("__c")).otherwise(0L)
        val scored = ex
          .withColumn("__fi", coalesce(sum(ci).over(wBelow), lit(0L)))
          .withColumn("__cie", sum(ci).over(wEq))
          .withColumn("__t", when(col("__g") === col("__p.pj"),
            col("__c").cast(dec) *
              (lit(2L).cast(dec) * col("__fi") + col("__cie"))))
        scored.agg(coalesce(sum(col("__t")), lit(0L).cast(dec)).as("__j2"))
      }
    val sizes = counts.groupBy(col("__g")).agg(sum(col("__c")).as("__n"))
      .agg(count(lit(1)).as("k"),
        sum(col("__n")).as("__nn"),
        sum(col("__n").cast(dec) * col("__n").cast(dec)).as("__n2"),
        sum(col("__n").cast(dec) * col("__n").cast(dec)
          * (lit(2L).cast(dec) * col("__n") + lit(3L))).as("__n23"))
    val nD = col("__nn").cast("double")
    val jD = col("__j2").cast("double") / lit(2.0)
    val e = (nD * nD - col("__n2").cast("double")) / lit(4.0)
    val v = (nD * nD * (lit(2.0) * nD + lit(3.0)) - col("__n23").cast("double")) /
      lit(72.0)
    val ok = col("k") >= 2 && v > 0.0
    sizes.crossJoin(j2).select(col("k"), col("__nn").as("n"),
      round(jD, 6).as("j"),
      when(ok, round((jD - e) / sqrt(v), 6)).as("z"))
  }

  /** Bowker symmetry test — the k×k generalization of McNemar: is the
    * transition/confusion matrix SYMMETRIC (flows i→j match j→i)?
    *
    *   χ² = Σ_{i<j, n_ij+n_ji > 0} (n_ij − n_ji)² / (n_ij + n_ji),
    *   dof = #included pairs
    *
    * Determinism: cell counts are exact longs; canonical-pair grouping
    * (the [[graft.ops.Graph.reciprocity]] shape — no self-join) splits
    * each unordered pair into its two directional sums; per-pair terms
    * nano-quantize before the grand sum.
    *
    * Scale shape: one (a, b)-keyed count pass + one canonical-pair
    * aggregation + a 1-row rollup.
    *
    * @return 1 row (n_pairs, dof, chi2)
    */
  def bowker(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    val cells = df.select(aCol.cast("string").as("__a"), bCol.cast("string").as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull && col("__a") =!= col("__b"))
      .groupBy(col("__a"), col("__b"))
      .agg(count(lit(1)).as("__n"))
    val pairs = cells.groupBy(
        least(col("__a"), col("__b")).as("__u"),
        greatest(col("__a"), col("__b")).as("__v"))
      .agg(sum(when(col("__a") < col("__b"), col("__n")).otherwise(0L)).as("__fwd"),
        sum(when(col("__a") > col("__b"), col("__n")).otherwise(0L)).as("__rev"))
    val d = (col("__fwd") - col("__rev")).cast("double")
    val s = (col("__fwd") + col("__rev")).cast("double")
    val term = round(d * d / s * lit(1e9), 0).cast("long")
    pairs.filter(col("__fwd") + col("__rev") > 0)
      .agg(count(lit(1)).as("n_pairs"), sum(term).as("__chi"))
      .select(col("n_pairs"), col("n_pairs").as("dof"),
        round(col("__chi").cast("double") / lit(1e9), 6).as("chi2"))
  }

  /** Storey's π₀ — the estimated fraction of TRUE NULLS in a tests
    * table ("how much of this fan-out is noise?"), the quantity that
    * turns BH's FDR into the sharper adaptive q-value:
    *
    *   π̂₀ = #{p > λ} / ((1−λ)·m),  capped at 1
    *
    * Null p-values are not hypotheses (the [[benjaminiHochberg]]
    * contract). One grand aggregation, 1 row (m, n_above, pi0).
    */
  def storeyPi0(df: DataFrame, pCol: Column, lambda: Double = 0.5): DataFrame = {
    require(lambda > 0.0 && lambda < 1.0, s"lambda must be in (0,1): $lambda")
    val pv = pCol.cast("double")
    val agg = df.agg(
      sum(when(pv.isNotNull, 1L).otherwise(0L)).as("m"),
      sum(when(pv > lambda, 1L).otherwise(0L)).as("n_above"))
    agg.select(col("m"), col("n_above"),
      when(col("m") >= 1, round(least(lit(1.0),
        col("n_above").cast("double") / (lit(1.0 - lambda) * col("m").cast("double"))), 6))
        .as("pi0"))
  }

  /** Kendall's W (coefficient of concordance) — HOW MUCH do the blocks
    * (raters) agree on the treatment (item) ranking, on a 0..1 scale?
    * The effect size behind [[friedman]]'s significance test, via the
    * identity W = χ²_F(tie-corrected) / (m(k−1)) — so it inherits
    * friedman's complete-block semantics, tie handling, and
    * determinism wholesale (and its 6-dp χ², documented: W carries the
    * same rounding). One row: `(k, n_blocks, w)`.
    */
  def kendallW(df: DataFrame, block: Column, treatment: Column,
               value: Column): DataFrame = {
    val f = friedman(df, block, treatment, value)
    val denom = col("n_blocks").cast("double") *
      (col("k") - lit(1L)).cast("double")
    f.select(col("k"), col("n_blocks"),
      when(col("chi2_tie").isNotNull && denom > 0.0,
        round(col("chi2_tie") / denom, 6)).as("w"))
  }

  /** Bartlett's test for homogeneity of variances — the parametric
    * (normal-assuming) complement of [[leveneBrownForsythe]]: sharper
    * when the data really is Gaussian, misleading when it isn't (run
    * [[jarqueBera]] first). One row:
    * `(k, n, pooled_var, chi2)` with
    *
    *   χ² = [(N−k)·ln(s_p²) − Σ(n_j−1)·ln(s_j²)] / C,
    *   C  = 1 + (Σ 1/(n_j−1) − 1/(N−k)) / (3(k−1))
    *
    * Levels with fewer than 2 rows drop (no variance to pool); chi2 is
    * null when k < 2, N ≤ k, or any kept level has zero variance
    * (ln(0) — Bartlett is undefined there; Levene still works).
    *
    * Determinism: per-level exact micro-quantized power sums; each
    * level's (n_j−1)·s_j², (n_j−1)·ln(s_j²), and 1/(n_j−1) terms
    * nano-quantize before the k-bounded sums (the [[anovaOneWay]]
    * discipline); χ² is one fixed IEEE tree at the end.
    *
    * Scale shape: one level-keyed map-combined aggregation, then a
    * level-cardinality-bounded rollup. No windows, no joins.
    */
  def bartlett(df: DataFrame, groupCol: Column, value: Column): DataFrame = {
    val dec = DecimalType(38, 0)
    def q(c: Column): Column = round(c * lit(1e6), 0).cast("long")
    val base = df.select(groupCol.as("__g"), q(value).as("__x"))
      .filter(col("__g").isNotNull && col("__x").isNotNull)
    val perLevel = base.groupBy(col("__g"))
      .agg(count(lit(1)).as("__nj"),
        sum(col("__x").cast(dec)).as("__s1"),
        sum(col("__x").cast(dec) * col("__x").cast(dec)).as("__s2"))
      .filter(col("__nj") >= 2)
    val njD = col("__nj").cast("double")
    val s1d = col("__s1").cast("double")
    // level variance in value² units (micro² / 1e12)
    val vj = (col("__s2").cast("double") - s1d * s1d / njD) / (njD - lit(1.0)) / lit(1e12)
    val rolled = perLevel.select(
        col("__nj"),
        round((njD - lit(1.0)) * vj * lit(1e9), 0).cast(dec).as("__sw"),
        when(vj > 0.0, round((njD - lit(1.0)) * log(vj) * lit(1e9), 0).cast(dec))
          .as("__lt"),
        round(lit(1e9) / (njD - lit(1.0)), 0).cast("long").as("__inv"),
        when(vj <= 0.0, 1L).otherwise(0L).as("__bad"))
      .agg(count(lit(1)).as("k"), sum(col("__nj")).as("n"),
        sum(col("__sw")).as("__sws"), sum(col("__lt")).as("__lts"),
        sum(col("__inv")).as("__invs"), sum(col("__bad")).as("__bads"))
    val kD = col("k").cast("double")
    val nD = col("n").cast("double")
    val nk = nD - kD
    val sp2 = col("__sws").cast("double") / lit(1e9) / nk
    val lsum = col("__lts").cast("double") / lit(1e9)
    val isum = col("__invs").cast("double") / lit(1e9)
    val cCorr = lit(1.0) + (isum - lit(1.0) / nk) / (lit(3.0) * (kD - lit(1.0)))
    val chi2 = (nk * log(sp2) - lsum) / cCorr
    val ok = col("k") >= 2 && col("n") > col("k") && col("__bads") === 0L && sp2 > 0.0
    rolled.select(col("k"), col("n"),
      when(col("n") > col("k"), round(sp2, 6)).as("pooled_var"),
      when(ok, round(chi2, 6)).as("chi2"))
  }

  /** Inequality indices per group — [[concentration]]'s
    * information-theoretic companions over the same (group, entity,
    * value) reduction:
    *
    *   Theil T   = (1/n) Σ (x_i/μ)·ln(x_i/μ)
    *   Theil L   = (1/n) Σ ln(μ/x_i)          (mean log deviation)
    *   Atkinson  = 1 − exp((1/n) Σ ln(x_i/μ)) (ε = 1: 1 − GM/μ)
    *
    * Only strictly-positive entity totals participate (logs), stated in
    * the contract; x_i/μ is computed as x_i·n/T so both engines divide
    * the SAME exact integers. Each per-entity log term quantizes to
    * nano-units BEFORE the sum (partial-agg order is
    * partition-dependent; integer sums are not), then ONE division by
    * n·1e9 per index.
    *
    * Scale shape: one (group, entity)-keyed map-combined aggregation,
    * one group-bounded totals join (AQE broadcast), one group rollup —
    * the concentration exchange family, no windows at all.
    */
  def inequality(df: DataFrame, groupBy: Seq[String], entityCol: String,
                 value: Column): DataFrame = {
    require(groupBy.nonEmpty, "inequality needs group keys")
    val dec = DecimalType(38, 0)
    val gCols = groupBy.map(col)
    val q = round(value * lit(1e6), 0).cast(dec)
    val perEntity = df
      .select(gCols :+ col(entityCol).as("__e") :+ q.as("__v"): _*)
      .filter(col("__v").isNotNull)
      .groupBy(gCols :+ col("__e"): _*)
      .agg(sum(col("__v")).as("__x"))
      .filter(col("__x") > 0)
    val tot = perEntity.groupBy(gCols: _*)
      .agg(sum(col("__x")).as("__t"), count(lit(1)).as("n_entities"))
    val j = perEntity.join(tot, groupBy)
    val ratio = col("__x").cast("double") * col("n_entities").cast("double") /
      col("__t").cast("double")
    val nano = lit(1e9)
    val tT = round(ratio * log(ratio) * nano, 0).cast("long")
    val tL = round(-log(ratio) * nano, 0).cast("long")
    val lA = round(log(ratio) * nano, 0).cast("long")
    val rolled = j.groupBy(gCols: _*)
      .agg(max(col("n_entities")).as("n_entities"),
        max(col("__t")).as("__t"),
        sum(tT).as("__st"), sum(tL).as("__sl"), sum(lA).as("__sa"))
    val nD = col("n_entities").cast("double")
    rolled.select(
      gCols :+ col("n_entities")
        :+ round(col("__t").cast("double") / lit(1e6), 6).as("total")
        :+ round(col("__st").cast("double") / nD / lit(1e9), 6).as("theil_t")
        :+ round(col("__sl").cast("double") / nD / lit(1e9), 6).as("theil_l")
        :+ round(lit(1.0) - exp(col("__sa").cast("double") / nD / lit(1e9)), 6)
          .as("atkinson"): _*)
  }

  /** Lorenz-curve decile points per group — the distributional picture
    * behind [[concentration]]'s single Gini number: entities sort
    * ascending by (value, entity), and at each tenth of the population
    * the curve reports the cumulative share of value held.
    *
    *   L(k/10) = Σ_{i ≤ i_k} x_(i) / T,   i_k = last i with ⌊10i/n⌋ = k
    *
    * Decile membership is integer arithmetic (`(10·i) div n` jumps by at
    * most 1 when n ≥ 10), the cumulative sum is an exact decimal prefix
    * over the entity sort, and the share is one IEEE division.
    *
    * Scale shape: one (group, entity)-keyed aggregation, one
    * group-partitioned sort window over ENTITY rows (the gini rank
    * window), then a boundary filter that keeps ≤ 10 rows per group.
    */
  def lorenzDeciles(df: DataFrame, groupBy: Seq[String], entityCol: String,
                    value: Column): DataFrame = {
    require(groupBy.nonEmpty, "lorenzDeciles needs group keys")
    val dec = DecimalType(38, 0)
    val gCols = groupBy.map(col)
    val q = round(value * lit(1e6), 0).cast(dec)
    val perEntity = df
      .select(gCols :+ col(entityCol).as("__e") :+ q.as("__v"): _*)
      .filter(col("__v").isNotNull)
      .groupBy(gCols :+ col("__e"): _*)
      .agg(sum(col("__v")).as("__x"))
    val W = org.apache.spark.sql.expressions.Window
      .partitionBy(gCols: _*).orderBy(col("__x"), col("__e"))
    val ranked = perEntity
      .withColumn("__i", row_number().over(W).cast("long"))
      .withColumn("__c", sum(col("__x")).over(
        W.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
    val WG = org.apache.spark.sql.expressions.Window.partitionBy(gCols: _*)
    val withN = ranked
      .withColumn("__n", max(col("__i")).over(WG))
      .withColumn("__t", sum(col("__x")).over(WG))
    withN
      .withColumn("decile", expr("(10 * __i) div __n"))
      .withColumn("__dprev", expr("(10 * (__i - 1)) div __n"))
      .filter(col("decile") > col("__dprev"))
      .select(gCols :+ col("decile")
        :+ col("__i").as("n_cum")
        :+ round(col("__c").cast("double") / col("__t").cast("double"), 6)
          .as("cum_share"): _*)
  }

  /** Chapman capture-recapture estimator — estimate an UNSEEN
    * population size from two overlapping samples (how many distinct
    * users/duplicates/entities exist, when each pass only sees some):
    *
    *   N̂  = (n₁+1)(n₂+1)/(m+1) − 1
    *   SE = √( (n₁+1)(n₂+1)(n₁−m)(n₂−m) / ((m+1)²(m+2)) )
    *
    * (the bias-corrected Lincoln-Petersen; m = entities in BOTH
    * samples). Assumes independent samples with equal catchability —
    * hash-based sampling gives exactly that.
    *
    * Determinism: n₁/n₂/m are exact longs from one entity-keyed
    * aggregation; N̂ and SE are fixed IEEE trees over them.
    *
    * Scale shape: one id-keyed map-combined aggregation (flags OR-fold)
    * + a 1-row rollup. Estimating distinct cardinality overlap on
    * 100 TB costs one keyed pass — no sketch needed when the two
    * samples ARE the data you hold.
    *
    * @return 1 row (n_a, n_b, n_both, n_hat, se)
    */
  def captureRecapture(df: DataFrame, idCol: Column, inA: Column,
                       inB: Column): DataFrame = {
    val perId = df
      .select(idCol.as("__id"),
        when(inA, 1L).otherwise(0L).as("__a"),
        when(inB, 1L).otherwise(0L).as("__b"))
      .filter(col("__id").isNotNull)
      .groupBy(col("__id"))
      .agg(max(col("__a")).as("__ia"), max(col("__b")).as("__ib"))
    val agg = perId.agg(
      sum(col("__ia")).as("n_a"),
      sum(col("__ib")).as("n_b"),
      sum(col("__ia") * col("__ib")).as("n_both"))
    val n1 = col("n_a").cast("double")
    val n2 = col("n_b").cast("double")
    val m = col("n_both").cast("double")
    val nHat = (n1 + lit(1.0)) * (n2 + lit(1.0)) / (m + lit(1.0)) - lit(1.0)
    val se = sqrt((n1 + lit(1.0)) * (n2 + lit(1.0)) * (n1 - m) * (n2 - m)
      / ((m + lit(1.0)) * (m + lit(1.0)) * (m + lit(2.0))))
    agg.select(col("n_a"), col("n_b"), col("n_both"),
      round(nHat, 6).as("n_hat"), round(se, 6).as("se"))
  }

  /** G-test of independence (likelihood-ratio chi-square) over a
    * two-way contingency table — the information-theoretic twin of the
    * Pearson chi², preferred when expected counts are small or cells
    * are sparse (G is additive across partitions of the table):
    *
    *   G = 2 Σ_cells O·ln(O·N / (R·C)),   dof = (r−1)(c−1)
    *
    * Zero cells contribute 0 (lim x·ln x = 0), stated in the contract.
    *
    * Determinism: O/R/C/N are exact longs; each cell's O·ln(O·N/(R·C))
    * nano-quantizes BEFORE the cell sum (the chi2 discipline), one
    * division by 1e9 at the end.
    *
    * Scale shape: one (a, b)-keyed map-combined aggregation; marginals
    * as windows over the CELL table (bounded by r·c); N as a 1-row
    * broadcast.
    *
    * @return 1 row (r, c, n, dof, g)
    */
  def gTest(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    val cells = df.select(aCol.as("__a"), bCol.as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull)
      .groupBy(col("__a"), col("__b"))
      .agg(count(lit(1)).as("__o"))
    val W = org.apache.spark.sql.expressions.Window
    val rowTot = sum(col("__o")).over(W.partitionBy(col("__a")))
    val colTot = sum(col("__o")).over(W.partitionBy(col("__b")))
    val tot = cells.agg(sum(col("__o")).as("__n"),
      count_distinct(col("__a")).as("r"),
      count_distinct(col("__b")).as("c"))
    val withM = cells
      .withColumn("__ra", rowTot)
      .withColumn("__cb", colTot)
      .crossJoin(broadcast(tot))
    val term = round(col("__o").cast("double")
      * log(col("__o").cast("double") * col("__n").cast("double")
        / (col("__ra").cast("double") * col("__cb").cast("double")))
      * lit(1e9), 0).cast("long")
    val rolled = withM
      .select(col("r"), col("c"), col("__n"), term.as("__t"))
      .groupBy(col("r"), col("c"), col("__n"))
      .agg(sum(col("__t")).as("__s"))
    rolled.select(col("r"), col("c"), col("__n").as("n"),
      ((col("r") - lit(1L)) * (col("c") - lit(1L))).as("dof"),
      round(lit(2.0) * col("__s").cast("double") / lit(1e9), 6).as("g"))
  }

  /** Gumbel extreme-value fit by method of moments over BLOCK MAXIMA —
    * the tail model behind "what daily peak should we provision for?":
    * given per-block maxima x₁..x_n,
    *
    *   β = s·√6/π,   μ = x̄ − γ·β   (γ = Euler-Mascheroni),
    *   x_T = μ − β·ln(−ln(1 − 1/T))   (the T-block return level)
    *
    * Returns per group `(n_blocks, mean_max, sd_max, gumbel_beta,
    * gumbel_mu, ret_level)`, 6 dp; fit columns null when n < 2 or the
    * maxima are constant.
    *
    * Determinism: block maxima quantize to micro-units (max is
    * order-free, so the input is already exact); mean/sd are divisions
    * of exact DECIMAL moments; β/μ/x_T are fixed IEEE trees with π, γ,
    * and the return-period constant spelled identically in the oracle.
    *
    * Scale shape: the caller's block reduction plus ONE group-keyed
    * map-combined aggregation — extreme-value provisioning over 100 TB
    * of telemetry costs the block-max scan and nothing more.
    */
  def gumbelFit(df: DataFrame, groupBy: Seq[String], value: Column,
                returnPeriod: Int): DataFrame = {
    require(groupBy.nonEmpty, "gumbelFit needs group keys")
    require(returnPeriod >= 2, s"return period must be >= 2: $returnPeriod")
    val dec = DecimalType(38, 0)
    val gCols = groupBy.map(col)
    val q = round(value * lit(1e6), 0).cast(dec)
    val agg = df.select(gCols :+ q.as("__x"): _*)
      .filter(col("__x").isNotNull)
      .groupBy(gCols: _*)
      .agg(count(lit(1)).as("n_blocks"),
        sum(col("__x")).as("__s"),
        sum(col("__x") * col("__x")).as("__ss"))
    val nDec = col("n_blocks").cast(dec)
    val mean = col("__s").cast("double") / col("n_blocks").cast("double") / lit(1e6)
    val varNum = (nDec * col("__ss") - col("__s") * col("__s")).cast("double")
    val sd = sqrt(varNum
      / (nDec * (nDec - lit(1).cast(dec))).cast("double")) / lit(1e6)
    val beta = sd * sqrt(lit(6.0)) / lit(math.Pi)
    val mu = mean - lit(0.5772156649015329) * beta
    val ret = mu - beta * log(-log(lit(1.0) - lit(1.0) / lit(returnPeriod.toDouble)))
    val ok = col("n_blocks") >= 2 && varNum > 0.0
    agg.select(
      gCols :+ col("n_blocks")
        :+ round(mean, 6).as("mean_max")
        :+ when(ok, round(sd, 6)).as("sd_max")
        :+ when(ok, round(beta, 6)).as("gumbel_beta")
        :+ when(ok, round(mu, 6)).as("gumbel_mu")
        :+ when(ok, round(ret, 6)).as("ret_level"): _*)
  }

  /** Poisson dispersion test — is a count series over- or
    * under-dispersed relative to Poisson (variance = mean)? Per group,
    * over integer counts c₁..c_n:
    *
    *   D    = s²/c̄ = (n·Σc² − (Σc)²) / ((n−1)·Σc)
    *   χ²   = (n−1)·D = Σ(cᵢ−c̄)²/c̄   (n−1 dof)
    *
    * D ≈ 1 is Poisson; D > 1 (overdispersion: burstiness, clumping) is
    * the signal that a negative-binomial model — or a dedup pass — is
    * needed.
    *
    * Determinism: counts are exact longs; both numerator and
    * denominator stay integral (DECIMAL) until the single final
    * division each — the integral-moment discipline.
    *
    * Scale shape: ONE group-keyed map-combined aggregation, 1 row per
    * group; nothing windowed, nothing collected.
    */
  def poissonDispersion(df: DataFrame, groupBy: Seq[String],
                        countCol: Column): DataFrame = {
    require(groupBy.nonEmpty, "poissonDispersion needs group keys")
    val dec = DecimalType(38, 0)
    val gCols = groupBy.map(col)
    val c = countCol.cast("long")
    val agg = df.select(gCols :+ c.as("__c"): _*)
      .filter(col("__c").isNotNull)
      .groupBy(gCols: _*)
      .agg(count(lit(1)).as("n"),
        sum(col("__c").cast(dec)).as("__s"),
        sum(col("__c").cast(dec) * col("__c").cast(dec)).as("__ss"))
    val nDec = col("n").cast(dec)
    val num = (nDec * col("__ss") - col("__s") * col("__s")).cast("double")
    val ok = col("n") >= 2 && col("__s") > 0
    agg.select(
      gCols :+ col("n")
        :+ round(col("__s").cast("double") / col("n").cast("double"), 6).as("mean")
        :+ round(when(ok,
            num / ((nDec - lit(1).cast(dec)) * col("__s")).cast("double")), 6)
          .as("dispersion")
        :+ round(when(ok, num / col("__s").cast("double")), 6).as("chi2"): _*)
  }

  /** Quantile treatment effects — the DISTRIBUTIONAL A/B readout: at
    * each requested quantile, the treated-minus-control difference of
    * exact order statistics. A zero mean effect can hide a transfer
    * from the median to the tail; QTE is where that shows. Returns one
    * row per quantile:
    * `(p_num, p_den, n_treat, n_ctrl, q_treat, q_ctrl, qte)`.
    *
    * Determinism: per-arm lower-quantile crossings on distinct-value
    * tables (cum·den ≥ num·N — integer test), arm-partitioned
    * cumulative windows (frames bounded by distinct values).
    *
    * Scale shape: one (arm, value)-keyed aggregation, bounded
    * windows, a ≤|quantiles|-row literal explode, one pivot join.
    */
  def quantileTreatmentEffect(df: DataFrame, treated: Column, value: Column,
                              quantiles: Seq[(Int, Int)]): DataFrame = {
    require(quantiles.nonEmpty &&
      quantiles.forall { case (n, d) => n > 0 && d > 0 && n < d },
      "quantiles must be proper fractions")
    val q = round(value * lit(1e6), 0).cast("long")
    val base = df.select(treated.as("__t"), q.as("__x"))
      .filter(col("__t").isNotNull && col("__x").isNotNull)
    val byVal = base.groupBy(col("__t"), col("__x")).agg(count(lit(1)).as("__nv"))
    import org.apache.spark.sql.expressions.Window
    val wCum = Window.partitionBy(col("__t")).orderBy(col("__x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("__t"))
    val cum = byVal
      .withColumn("__cum", sum(col("__nv")).over(wCum))
      .withColumn("__N", sum(col("__nv")).over(wAll))
    val qRows = array(quantiles.map { case (n, d) =>
      struct(lit(n).as("p_num"), lit(d).as("p_den"))
    }: _*)
    val crossed = cum
      .select(col("__t"), col("__x"), col("__cum"), col("__N"),
        explode(qRows).as("__q"))
      .filter(col("__cum") * col("__q.p_den").cast("long") >=
        col("__q.p_num").cast("long") * col("__N"))
      .groupBy(col("__t"), col("__q.p_num").as("p_num"),
        col("__q.p_den").as("p_den"))
      .agg(min(col("__x")).as("__thr"), max(col("__N")).as("__n"))
    def side(flag: Boolean, s: String): DataFrame =
      crossed.filter(col("__t") === flag)
        .select(col("p_num"), col("p_den"), col("__thr").as(s"__thr$s"),
          col("__n").as(s"__n$s"))
    side(true, "t").join(side(false, "c"), Seq("p_num", "p_den"))
      .select(col("p_num"), col("p_den"),
        col("__nt").as("n_treat"), col("__nc").as("n_ctrl"),
        round(col("__thrt").cast("double") / lit(1e6), 6).as("q_treat"),
        round(col("__thrc").cast("double") / lit(1e6), 6).as("q_ctrl"),
        round((col("__thrt") - col("__thrc")).cast("double") / lit(1e6), 6)
          .as("qte"))
  }

  /** Oaxaca-Blinder threefold decomposition of a group mean gap with
    * one covariate: how much of ȳ_t − ȳ_c is ENDOWMENT (different x),
    * COEFFICIENT (different returns to x, intercept included), and
    * INTERACTION:
    *
    *   E = β_c(x̄_t − x̄_c),  C = (α_t − α_c) + x̄_c(β_t − β_c),
    *   I = (β_t − β_c)(x̄_t − x̄_c),  gap ≡ E + C + I (exactly)
    *
    * — "is the pay gap explained by hours?" answered in three numbers.
    * Returns one row
    * `(n_treat, n_ctrl, gap, endowment, coefficient, interaction)`;
    * null decomposition when either regression is degenerate.
    *
    * Determinism: per-group OLS from exact decimal moments (micro
    * quantization on BOTH columns); the decomposition is one fixed
    * IEEE tree, so the identity holds digit-for-digit.
    *
    * Scale shape: ONE conditional moment aggregation to a single row.
    */
  def oaxacaBlinder(df: DataFrame, treated: Column, yCol: Column,
                    xCol: Column): DataFrame = {
    val dec = DecimalType(38, 0)
    def q(c: Column): Column = round(c * lit(1e6), 0).cast("long")
    val base = df.select(treated.as("__t"), q(yCol).as("__y"), q(xCol).as("__x"))
      .filter(col("__t").isNotNull && col("__y").isNotNull && col("__x").isNotNull)
    def sums(flag: Boolean, s: String) = Seq(
      sum(when(col("__t") === flag, 1L).otherwise(0L)).as(s"n$s"),
      sum(when(col("__t") === flag, col("__x").cast(dec))).as(s"__sx$s"),
      sum(when(col("__t") === flag, col("__y").cast(dec))).as(s"__sy$s"),
      sum(when(col("__t") === flag, col("__x").cast(dec) * col("__x").cast(dec)))
        .as(s"__sxx$s"),
      sum(when(col("__t") === flag, col("__x").cast(dec) * col("__y").cast(dec)))
        .as(s"__sxy$s"))
    val aggCols = sums(true, "t") ++ sums(false, "c")
    val agg = base.agg(aggCols.head, aggCols.tail: _*)
    def d(c: String): Column = col(c).cast("double")
    def fit(s: String): (Column, Column, Column, Column) = {
      val m = d(s"n$s")
      val sxx = m * d(s"__sxx$s") - d(s"__sx$s") * d(s"__sx$s")
      val beta = (m * d(s"__sxy$s") - d(s"__sx$s") * d(s"__sy$s")) / sxx
      val xBar = d(s"__sx$s") / m / lit(1e6)
      val yBar = d(s"__sy$s") / m / lit(1e6)
      (xBar, yBar, beta, sxx)
    }
    val (xt, yt, bt, st) = fit("t")
    val (xc, yc, bc, sc) = fit("c")
    val alphaT = yt - bt * xt
    val alphaC = yc - bc * xc
    val gap = yt - yc
    val endow = bc * (xt - xc)
    val coefTerm = (alphaT - alphaC) + xc * (bt - bc)
    val inter = (bt - bc) * (xt - xc)
    val ok = col("nt") >= 2 && col("nc") >= 2 && st > 0.0 && sc > 0.0
    agg.select(col("nt").as("n_treat"), col("nc").as("n_ctrl"),
      when(col("nt") >= 1 && col("nc") >= 1, round(gap, 6)).as("gap"),
      when(ok, round(endow, 6)).as("endowment"),
      when(ok, round(coefTerm, 6)).as("coefficient"),
      when(ok, round(inter, 6)).as("interaction"))
  }

  /** Hampel (median/MAD) outlier screen — the robust complement of
    * [[grubbsTest]]: flag |x − median| > (kNum/kDen)·MAD, with both the
    * median and the MAD exact lower-median order statistics (no
    * breakdown under the very outliers being hunted, unlike the
    * mean/sd pair). Per group:
    * `(groupBy..., n, median, mad, n_flagged)`. When MAD = 0 (a
    * majority-constant group) ANY deviation flags — the standard
    * degenerate behavior, stated. Default fence 7/2 = the conventional
    * 3.5.
    *
    * Determinism: micro-quantized values; both medians come from
    * distinct-value cumulative crossings; the fence test is an integer
    * cross-multiplication (d·kDen > MAD·kNum) — no float thresholds.
    *
    * Scale shape: two (group, distinct-value)-keyed aggregations with
    * group-partitioned cumulative windows (frames bounded by distinct
    * values) and two group-bounded median joins (AQE broadcast); raw
    * rows shuffle twice (value pass, deviation pass).
    */
  def hampelOutliers(df: DataFrame, groupBy: Seq[String], value: Column,
                     kNum: Long = 7L, kDen: Long = 2L): DataFrame = {
    require(groupBy.nonEmpty, "hampelOutliers needs group keys")
    require(kNum > 0 && kDen > 0, "fence must be positive")
    val gCols = groupBy.map(col)
    val q = round(value * lit(1e6), 0).cast("long")
    val base = df.select(gCols :+ q.as("__x"): _*)
      .filter(col("__x").isNotNull)
    import org.apache.spark.sql.expressions.Window
    def lowerMedian(in: DataFrame, vc: String, out: String): DataFrame = {
      val byVal = in.groupBy(gCols :+ col(vc): _*).agg(count(lit(1)).as("__nv"))
      val wCum = Window.partitionBy(gCols: _*).orderBy(col(vc))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(gCols: _*)
      byVal
        .withColumn("__cum", sum(col("__nv")).over(wCum))
        .withColumn("__N", sum(col("__nv")).over(wAll))
        .filter(col("__cum") * lit(2L) >= col("__N"))
        .groupBy(gCols: _*).agg(min(col(vc)).as(out))
    }
    val med = lowerMedian(base, "__x", "__med")
    val dev = base.join(med, groupBy)
      .select(gCols :+ abs(col("__x") - col("__med")).as("__d")
        :+ col("__med"): _*)
    val mad = lowerMedian(dev, "__d", "__mad")
    dev.join(mad, groupBy)
      .groupBy(gCols: _*)
      .agg(count(lit(1)).as("n"),
        max(col("__med")).as("__m"),
        max(col("__mad")).as("__madv"),
        sum(when(col("__d") * lit(kDen) > col("__mad") * lit(kNum), 1L)
          .otherwise(0L)).as("n_flagged"))
      .select(gCols :+ col("n")
        :+ round(col("__m").cast("double") / lit(1e6), 6).as("median")
        :+ round(col("__madv").cast("double") / lit(1e6), 6).as("mad")
        :+ col("n_flagged"): _*)
  }

  /** Empirical upper-tail dependence of a paired series — do X and Y
    * spike TOGETHER? For the q-th upper quantile (exact order-statistic
    * thresholds):
    *
    *   λ_xy = P(Y > y_q | X > x_q),  λ_yx the reverse,
    *   lift = P(both) / (P(X>x_q)·P(Y>y_q))
    *
    * — the co-crash number a Pearson correlation (dominated by the
    * bulk) cannot give. One row:
    * `(n, thr_x, thr_y, n_x, n_y, n_joint, lambda_xy, lambda_yx,
    * lift)`; lambdas null when the conditioning side is empty.
    *
    * Determinism: thresholds are exact lower-quantile crossings on
    * distinct-value tables (cum·qDen ≥ qNum·N — integer test);
    * exceedance counts are exact.
    *
    * Scale shape: two distinct-value aggregations (bounded cumulative
    * windows — the binaryAuc bound), 1-row threshold broadcasts, one
    * conditional aggregation over the pairs.
    */
  def tailDependence(df: DataFrame, xCol: Column, yCol: Column,
                     qNum: Int, qDen: Int): DataFrame = {
    require(qNum > 0 && qDen > 0 && qNum < qDen, s"bad quantile: $qNum/$qDen")
    def q(c: Column): Column = round(c * lit(1e6), 0).cast("long")
    val base = df.select(q(xCol).as("__x"), q(yCol).as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
    import org.apache.spark.sql.expressions.Window
    def thr(vc: String, out: String): DataFrame = {
      val byVal = base.groupBy(col(vc)).agg(count(lit(1)).as("__nv"))
      val wCum = Window.orderBy(col(vc))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = byVal.agg(sum(col("__nv")).as("__N"))
      byVal.crossJoin(broadcast(tot))
        .withColumn("__cum", sum(col("__nv")).over(wCum))
        .filter(col("__cum") * lit(qDen.toLong) >= lit(qNum.toLong) * col("__N"))
        .agg(min(col(vc)).as(out))
    }
    val agg = base
      .crossJoin(broadcast(thr("__x", "__tx")))
      .crossJoin(broadcast(thr("__y", "__ty")))
      .agg(count(lit(1)).as("n"),
        max(col("__tx")).as("__thx"), max(col("__ty")).as("__thy"),
        sum(when(col("__x") > col("__tx"), 1L).otherwise(0L)).as("n_x"),
        sum(when(col("__y") > col("__ty"), 1L).otherwise(0L)).as("n_y"),
        sum(when(col("__x") > col("__tx") && col("__y") > col("__ty"), 1L)
          .otherwise(0L)).as("n_joint"))
    def d(c: String): Column = col(c).cast("double")
    agg.select(col("n"),
      round(d("__thx") / lit(1e6), 6).as("thr_x"),
      round(d("__thy") / lit(1e6), 6).as("thr_y"),
      col("n_x"), col("n_y"), col("n_joint"),
      when(col("n_x") > 0, round(d("n_joint") / d("n_x"), 6)).as("lambda_xy"),
      when(col("n_y") > 0, round(d("n_joint") / d("n_y"), 6)).as("lambda_yx"),
      when(col("n_x") > 0 && col("n_y") > 0,
        round(d("n_joint") * d("n") / (d("n_x") * d("n_y")), 6)).as("lift"))
  }

  /** Welch's heteroscedastic one-way ANOVA — [[anovaOneWay]] without
    * the equal-variance assumption it usually violates in the wild:
    *
    *   F* = [Σwᵢ(x̄ᵢ − x̄w)²/(k−1)] / [1 + 2(k−2)/(k²−1)·Λ],
    *   Λ = Σ(1 − wᵢ/W)²/(nᵢ−1),  wᵢ = nᵢ/sᵢ²,  df₂ = (k²−1)/(3Λ)
    *
    * One row: `(k, n, f, df2)`; null when k < 2, any group has n < 2,
    * or any group variance is 0 (its weight is infinite — Welch is
    * undefined there).
    *
    * Determinism: group moments are exact; every cross-group term
    * (wᵢ at 1e9, wᵢx̄ᵢ at 1e6, the A and Λ terms at 1e9) quantizes
    * per GROUP before the order-free integer sums, so the two k-row
    * rollups replay exactly. Suitable for weights in ~[1e-6, 1e6] —
    * the quantization grid is documented, not adaptive.
    *
    * Scale shape: ONE map-combined group aggregation; both rollups
    * and the 1-row broadcast combine run on the k-row group table.
    */
  def welchAnova(df: DataFrame, groupBy: Column, value: Column): DataFrame = {
    val dec = DecimalType(38, 0)
    val q = round(value * lit(1e6), 0).cast("long")
    val base = df.select(groupBy.as("__g"), q.as("__x"))
      .filter(col("__g").isNotNull && col("__x").isNotNull)
    val groups = base.groupBy(col("__g")).agg(
      count(lit(1)).as("__n"),
      sum(col("__x").cast(dec)).as("__s"),
      sum(col("__x").cast(dec) * col("__x").cast(dec)).as("__sxx"))
    val nD = col("__n").cast("double")
    val mean = col("__s").cast("double") / nD / lit(1e6)
    val varN = (col("__n").cast(dec) * col("__sxx") - col("__s") * col("__s"))
      .cast("double")
    // null (not NaN/Inf) for degenerate groups — ANSI casts must never
    // see a non-finite value
    val s2 = when(col("__n") >= 2, varN / (nD * (nD - lit(1.0))) / lit(1e12))
    val g1 = groups.select(col("__n"), mean.as("__m"), s2.as("__v"))
      .withColumn("__w", when(col("__v") > 0.0,
        col("__n").cast("double") / col("__v")))
    val sums = g1.agg(
      count(lit(1)).as("__k"),
      sum(col("__n")).as("__nt"),
      sum(when(col("__w").isNotNull, round(col("__w") * lit(1e9), 0).cast("long")))
        .as("__w9"),
      sum(when(col("__w").isNotNull,
        round(col("__w") * col("__m") * lit(1e6), 0).cast("long"))).as("__wm6"),
      sum(when(col("__w").isNotNull, 0L).otherwise(1L)).as("__bad"))
    val j = g1.crossJoin(broadcast(sums))
    val bigW = col("__w9").cast("double") / lit(1e9)
    val xw = (col("__wm6").cast("double") / lit(1e6)) / bigW
    val aTerm = when(col("__w").isNotNull,
      round(col("__w") * (col("__m") - xw) * (col("__m") - xw)
        * lit(1e9), 0).cast("long")).otherwise(0L)
    val lTerm = when(col("__w").isNotNull,
      round((lit(1.0) - col("__w") / bigW)
        * (lit(1.0) - col("__w") / bigW)
        / (col("__n").cast("double") - lit(1.0)) * lit(1e9), 0).cast("long"))
      .otherwise(0L)
    val fin = j.groupBy(col("__k"), col("__nt"), col("__bad")).agg(
      sum(aTerm).as("__a9"), sum(lTerm).as("__l9"))
    val kD = col("__k").cast("double")
    val aSum = col("__a9").cast("double") / lit(1e9)
    val lSum = col("__l9").cast("double") / lit(1e9)
    val fStat = (aSum / (kD - lit(1.0))) /
      (lit(1.0) + lit(2.0) * (kD - lit(2.0)) / (kD * kD - lit(1.0)) * lSum)
    val df2 = (kD * kD - lit(1.0)) / (lit(3.0) * lSum)
    val ok = col("__k") >= 2 && col("__bad") === 0L
    fin.select(col("__k").as("k"), col("__nt").as("n"),
      when(ok && lSum > 0.0, round(fStat, 6)).as("f"),
      when(ok && lSum > 0.0, round(df2, 6)).as("df2"))
  }

  /** Negative-binomial method-of-moments fit — what [[poissonDispersion]]
    * DIAGNOSES, this parameterizes: for overdispersed counts
    * (variance > mean), r = m²/(v − m) and p = m/v give the NB(r, p)
    * that matches both moments; r is the "clumpiness" (small r = bursty
    * arrivals). Per group: `(groupBy..., n, mean, variance, r, p)`;
    * r and p are null when the data is NOT overdispersed (v ≤ m — use
    * the plain Poisson) or n < 2.
    *
    * Determinism: one exact integral moment pass; the fit is a fixed
    * IEEE tree per group.
    */
  def negBinomialFit(df: DataFrame, groupBy: Seq[String],
                     countCol: Column): DataFrame = {
    require(groupBy.nonEmpty, "negBinomialFit needs group keys")
    val dec = DecimalType(38, 0)
    val gCols = groupBy.map(col)
    val c = countCol.cast("long")
    val agg = df.select(gCols :+ c.as("__c"): _*)
      .filter(col("__c").isNotNull)
      .groupBy(gCols: _*)
      .agg(count(lit(1)).as("n"),
        sum(col("__c").cast(dec)).as("__s"),
        sum(col("__c").cast(dec) * col("__c").cast(dec)).as("__ss"))
    val nD = col("n").cast("double")
    val m = col("__s").cast("double") / nD
    val v = (col("n").cast(dec) * col("__ss") - col("__s") * col("__s"))
      .cast("double") / (nD * (nD - lit(1.0)))
    val over = v > m
    val ok = col("n") >= 2
    agg.select(
      gCols :+ col("n")
        :+ when(ok, round(m, 6)).as("mean")
        :+ when(ok, round(v, 6)).as("variance")
        :+ when(ok && over, round(m * m / (v - m), 6)).as("r")
        :+ when(ok && over, round(m / v, 6)).as("p"): _*)
  }

  /** Stratified average treatment effect: within each stratum, the
    * treated-minus-control mean difference; the overall ATE weights
    * strata by size (Cochran weights nₛ/N) with
    * SE = √(Σ wₛ²·(s²ₜ/nₜ + s²c/nc)) — the design-respecting A/B
    * readout where a pooled [[welchT]] would confound stratum mix
    * with treatment. Returns one row
    * `(n_strata, n_treat, n_ctrl, ate, se, z)`; strata missing either
    * arm (or with n < 2 on a side) drop, counted out of the weights;
    * empty output when no stratum has both arms.
    *
    * Determinism: per-stratum moments are exact; each stratum's
    * w·diff and w²·var terms nano-quantize before the order-free
    * cross-stratum sums; ATE/SE/z are one fixed tree.
    *
    * Scale shape: ONE (stratum, arm) map-combined aggregation, a
    * stratum-bounded pivot join, a 1-row rollup.
    */
  def stratifiedAte(df: DataFrame, stratum: Column, treated: Column,
                    value: Column): DataFrame = {
    val dec = DecimalType(38, 0)
    val q = round(value * lit(1e6), 0).cast("long")
    val base = df.select(stratum.as("__st"), treated.as("__t"), q.as("__x"))
      .filter(col("__st").isNotNull && col("__t").isNotNull &&
        col("__x").isNotNull)
    val cells = base.groupBy(col("__st"), col("__t")).agg(
      count(lit(1)).as("__n"),
      sum(col("__x").cast(dec)).as("__s"),
      sum(col("__x").cast(dec) * col("__x").cast(dec)).as("__sxx"))
    def side(flag: Boolean, suffix: String): DataFrame =
      cells.filter(col("__t") === flag)
        .select(col("__st").as(s"__st$suffix"), col("__n").as(s"__n$suffix"),
          col("__s").as(s"__s$suffix"), col("__sxx").as(s"__sxx$suffix"))
    val wide = side(true, "t")
      .join(side(false, "c"), col("__stt") === col("__stc"))
      .filter(col("__nt") >= 2 && col("__nc") >= 2)
    def mean(s: String): Column =
      col(s"__s$s").cast("double") / col(s"__n$s").cast("double") / lit(1e6)
    def s2(s: String): Column = {
      val nD = col(s"__n$s").cast("double")
      (col(s"__n$s").cast(dec) * col(s"__sxx$s") -
        col(s"__s$s") * col(s"__s$s")).cast("double") /
        (nD * (nD - lit(1.0))) / lit(1e12)
    }
    val ns = (col("__nt") + col("__nc")).cast("double")
    val tot = wide.agg(sum(col("__nt") + col("__nc")).as("__ntot"),
      sum(col("__nt")).as("__ntr"), sum(col("__nc")).as("__nct"),
      count(lit(1)).as("__k"))
    val j = wide.crossJoin(broadcast(tot))
    val w = ns / col("__ntot").cast("double")
    val diffT = round(w * (mean("t") - mean("c")) * lit(1e9), 0).cast("long")
    val varT = round(w * w * (s2("t") / col("__nt").cast("double") +
      s2("c") / col("__nc").cast("double")) * lit(1e15), 0).cast("long")
    val fin = j.groupBy(col("__k"), col("__ntr"), col("__nct")).agg(
      sum(diffT).as("__d9"), sum(varT).as("__v15"))
    val ate = col("__d9").cast("double") / lit(1e9)
    val se = sqrt(col("__v15").cast("double") / lit(1e15))
    val ok = col("__k") >= 1
    fin.select(col("__k").as("n_strata"), col("__ntr").as("n_treat"),
      col("__nct").as("n_ctrl"),
      when(ok, round(ate, 6)).as("ate"),
      when(ok && se > 0.0, round(se, 6)).as("se"),
      when(ok && se > 0.0, round(ate / se, 6)).as("z"))
  }

  /** Two-sample Poisson rate-ratio test: events per unit exposure in
    * arm A vs arm B —
    *
    *   RR = (c₁/e₁)/(c₂/e₂),   z = ln(c₁·e₂ / (c₂·e₁)) / √(1/c₁ + 1/c₂)
    *
    * the count-data complement of [[twoProportionZ]] (which compares
    * per-TRIAL proportions; this compares per-EXPOSURE intensities).
    * One row: `(c1, e1, c2, e2, rate_ratio, z)`; null when any count
    * or exposure is 0 (no rate, or an exact-zero log). Exposures are
    * caller-supplied columns counted as exact distinct units.
    *
    * Determinism: all four inputs are exact counts; ln takes the
    * integer products c₁·e₂ and c₂·e₁ (the integer-arg ln
    * convention), so both engines evaluate the identical tree.
    *
    * Scale shape: one conditional aggregation with two count-distincts
    * sharing the pass; a single-row output.
    */
  def poissonRateRatio(df: DataFrame, inA: Column, inB: Column,
                       event: Column, exposureUnit: Column): DataFrame = {
    val agg = df.agg(
      sum(when(inA && event, 1L).otherwise(0L)).as("c1"),
      countDistinct(when(inA, exposureUnit)).as("e1"),
      sum(when(inB && event, 1L).otherwise(0L)).as("c2"),
      countDistinct(when(inB, exposureUnit)).as("e2"))
    def d(c: String): Column = col(c).cast("double")
    val rr = (d("c1") / d("e1")) / (d("c2") / d("e2"))
    // exact decimal products (a Long product overflows past ~9.2e18 at
    // large count×exposure scale); decimal→double of the exact product
    // is the same IEEE value as the in-range long→double, so the tree
    // the oracle replays is unchanged
    val dec38 = DecimalType(38, 0)
    val lnRr = log((col("c1").cast(dec38) * col("e2").cast(dec38)).cast("double")) -
      log((col("c2").cast(dec38) * col("e1").cast(dec38)).cast("double"))
    val z = lnRr / sqrt(lit(1.0) / d("c1") + lit(1.0) / d("c2"))
    val ok = col("c1") > 0 && col("c2") > 0 && col("e1") > 0 && col("e2") > 0
    agg.select(col("c1"), col("e1"), col("c2"), col("e2"),
      when(ok, round(rr, 6)).as("rate_ratio"),
      when(ok, round(z, 6)).as("z"))
  }

  /** Grubbs' test for the single most extreme value — per group,
    * G = max|x − x̄| / s with the sample standard deviation: the
    * formal "is my worst point an outlier?" readout beside
    * [[graft.ops.Timeseries.flagAnomalies]]'s rolling flags. Returns
    * `(groupBy..., n, mean, sd, g, suspect)` where `suspect` is the
    * value achieving the max deviation (ties break to the LARGER
    * value — deterministic). Compare G against the Grubbs critical
    * value at your n; G and sd are null when n < 3 or the group is
    * constant.
    *
    * Determinism: deviations clear the mean exactly — |n·x − S| is an
    * exact decimal per row, so the max, its argmax, and
    * G = (max|n·x − S|/n) / s are fixed IEEE trees over exact sums.
    *
    * Scale shape: ONE map-combined aggregation per group (the max and
    * argmax combine like any other partial agg); rides the scan.
    */
  def grubbsTest(df: DataFrame, groupBy: Seq[String],
                 value: Column): DataFrame = {
    require(groupBy.nonEmpty, "grubbsTest needs group keys")
    val dec = DecimalType(38, 0)
    val gCols = groupBy.map(col)
    val q = round(value * lit(1e6), 0).cast("long")
    val base = df.select(gCols :+ q.as("__x"): _*)
      .filter(col("__x").isNotNull)
    // pass 1: exact moments per group (bounded table)
    val moments = base.groupBy(gCols: _*).agg(
      count(lit(1)).as("n"),
      sum(col("__x").cast(dec)).as("__s"),
      sum(col("__x").cast(dec) * col("__x").cast(dec)).as("__sxx"))
    // pass 2: exact max deviation + argmax on the same scan, joined to
    // the group-bounded moment table (AQE broadcast)
    val joined = base.join(moments, groupBy)
    val dev = abs(col("n").cast(dec) * col("__x").cast(dec) - col("__s"))
    val arg = joined.groupBy(gCols: _*).agg(
      max(dev).as("__maxdev"),
      max(struct(dev.as("d"), col("__x").as("x"))).as("__arg"))
    val out = moments.join(arg, groupBy)
    val nD = col("n").cast("double")
    val varN = (col("n").cast(dec) * col("__sxx") - col("__s") * col("__s"))
      .cast("double")
    val sd = sqrt(varN / (nD * (nD - lit(1.0)))) / lit(1e6)
    val g = col("__maxdev").cast("double") / nD / lit(1e6) / sd
    val ok = col("n") >= 3 && varN > 0.0
    out.select(gCols :+ col("n")
      :+ round(col("__s").cast("double") / nD / lit(1e6), 6).as("mean")
      :+ when(ok, round(sd, 6)).as("sd")
      :+ when(ok, round(g, 6)).as("g")
      :+ round(col("__arg.x").cast("double") / lit(1e6), 6).as("suspect"): _*)
  }

  /** Wilcoxon signed-rank test — the PAIRED complement of
    * [[mannWhitneyU]]: each row is one pair's difference; the test
    * asks whether differences are symmetrically centered on zero
    * without assuming normality (what [[pairedTTest]] does assume).
    * Zero differences drop (the standard convention); |d| ranks
    * average over ties. Per group:
    * `(groupBy..., n, w_plus_twice, tie_cubes, z)` with
    *
    *   z = (W⁺ − n(n+1)/4) / √(n(n+1)(2n+1)/24 − Σ(t³−t)/48)
    *
    * `w_plus_twice` = 2·W⁺ (an exact integer — rank averages over
    * ties are half-integers). z is null when n < 2 or the variance is
    * ≤ 0 (all differences tied at one magnitude both ways).
    *
    * Determinism: differences micro-quantize; the rank layer is the
    * [[mannWhitneyU]] distinct-|d| table, so 2·W⁺ and the tie cubes
    * are exact integers and z is one fixed IEEE tree.
    *
    * Scale shape: one (groups, |d|)-keyed map-combined aggregation,
    * cumulative windows whose frames hold distinct magnitudes
    * (bounded), then a per-group rollup — raw pairs shuffle once.
    */
  def wilcoxonSignedRank(df: DataFrame, groupBy: Seq[String],
                         diff: Column): DataFrame = {
    require(groupBy.nonEmpty,
      "wilcoxonSignedRank needs group keys (use a constant column for a global test)")
    val dec = DecimalType(38, 0)
    val gCols = groupBy.map(col)
    val d = round(diff * lit(1e6), 0).cast("long")
    val base = df.select(gCols :+ d.as("__d"): _*)
      .filter(col("__d").isNotNull && col("__d") =!= 0L)
    val byVal = base
      .groupBy(gCols :+ abs(col("__d")).as("__a"): _*)
      .agg(sum(when(col("__d") > 0L, 1L).otherwise(0L)).as("__np_v"),
        count(lit(1)).as("__n_v"))
    val W = org.apache.spark.sql.expressions.Window
      .partitionBy(gCols: _*).orderBy(col("__a"))
    val cumBefore = coalesce(
      sum(col("__n_v")).over(W.rowsBetween(Long.MinValue, -1)), lit(0L))
    val ranked = byVal.select(
      gCols
        :+ col("__np_v") :+ col("__n_v")
        :+ (col("__np_v").cast(dec) *
            (lit(2L) * cumBefore + col("__n_v") + lit(1L)).cast(dec)).as("__w2")
        :+ ((col("__n_v").cast(dec) * col("__n_v") * col("__n_v"))
            - col("__n_v").cast(dec)).as("__t3"): _*)
    val agg = ranked.groupBy(gCols: _*)
      .agg(sum(col("__n_v")).as("n"),
        sum(col("__w2")).as("__wp2"),
        sum(col("__t3")).as("__ties"))
    val nD = col("n").cast("double")
    val wPlus = col("__wp2").cast("double") / lit(2.0)
    val mu = nD * (nD + lit(1.0)) / lit(4.0)
    val varW = nD * (nD + lit(1.0)) * (lit(2.0) * nD + lit(1.0)) / lit(24.0) -
      col("__ties").cast("double") / lit(48.0)
    val z = (wPlus - mu) / sqrt(varW)
    agg.select(
      gCols
        :+ col("n")
        :+ col("__wp2").cast("long").as("w_plus_twice")
        :+ col("__ties").cast("long").as("tie_cubes")
        :+ when(col("n") >= 2 && varW > 0.0, round(z, 6)).as("z"): _*)
  }

  /** Hodges-Lehmann pseudo-median — the median of all n(n+1)/2 Walsh
    * averages (xᵢ+xⱼ)/2, i ≤ j: the location estimate dual to the
    * Wilcoxon signed-rank test ([[wilcoxonSignedRank]]) — 29% breakdown,
    * ~95% Gaussian efficiency, the robust "where is this distribution
    * centered?" answer the plain median under-uses and the mean
    * over-trusts. Per group:
    * `(groups..., n, n_walsh, hl_quarter_micros)` — hl_quarter_micros
    * is 4× the pseudo-median in micro units (always an exact integer:
    * the median Walsh SUM s = vᵢ+vⱼ is integer micro×2, and an
    * even-count median averages two of them — no float surface, the
    * r12 posture).
    *
    * Determinism: the value domain micro-quantizes; Walsh multiplicity
    * per (v₁ ≤ v₂) pair is exact (c₁c₂, or c(c+1)/2 on the diagonal);
    * the median crossing is an integer comparison on exact cumulative
    * decimal sums.
    *
    * Scale shape: one (group, value) map-combined aggregation reduces
    * rows to the value domain; the Walsh grid is a DISTINCT²-bounded
    * self-join on the group key (the [[tukeyHsd]] k-bounded-pairs
    * contract, machine-guarded by `maxDistinct` via one cheap
    * aggregation BEFORE the join); the crossing is one bounded
    * cumulative window. Raw rows shuffle once.
    */
  def hodgesLehmann(df: DataFrame, groupBy: Seq[String], value: Column,
                    maxDistinct: Long = 4096L): DataFrame = {
    require(groupBy.nonEmpty,
      "hodgesLehmann needs group keys (use a constant column for a global test)")
    require(maxDistinct >= 2L, s"maxDistinct must be >= 2: $maxDistinct")
    val dec = DecimalType(38, 0)
    def q(c: Column): Column = round(c * lit(1e6), 0).cast("long")
    val gCols = groupBy.map(col)
    val byVal = df.select(gCols :+ q(value).as("__x"): _*)
      .filter(gCols.map(_.isNotNull).reduce(_ && _) && col("__x").isNotNull)
      .groupBy(gCols :+ col("__x"): _*)
      .agg(count(lit(1)).as("__c"))
    // not persisted: the returned frame reads byVal after this call ends,
    // so nothing could release a cache entry, and ReuseExchange already
    // shares its one exchange among the reads of that frame
    // the Walsh grid squares with the value domain — guard it with one
    // cheap aggregation before paying the join (the quadPairCount posture)
    val worst = Observe.scalars(byVal.groupBy(gCols: _*).agg(count(lit(1)).as("__d")),
      max(col("__d")))
    val worstD = if (worst.isNullAt(0)) 0L else worst.getLong(0)
    require(worstD <= maxDistinct,
      s"hodgesLehmann's Walsh grid is distinct-value²-bounded; a group " +
        s"has $worstD distinct quantized values (cap $maxDistinct). " +
        s"Coarsen the quantization or pre-bucket the value.")
    val right = byVal.select(gCols :+ col("__x").as("__x2") :+ col("__c").as("__c2"): _*)
    val grid = byVal.join(right, groupBy).filter(col("__x2") >= col("__x"))
      .select(gCols
        :+ (col("__x") + col("__x2")).as("__s")
        :+ when(col("__x2") > col("__x"), col("__c").cast(dec) * col("__c2").cast(dec))
          .otherwise(expr("cast(__c as decimal(38,0)) * (__c + 1) div 2").cast(dec))
          .as("__w"): _*)
      .groupBy(gCols :+ col("__s"): _*)
      .agg(sum(col("__w")).as("__w"))
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(gCols: _*).orderBy(col("__s"))
      .rowsBetween(Long.MinValue, 0)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(gCols: _*)
    val cum = sum(col("__w")).over(wOrd)
    val tot = sum(col("__w")).over(wAll)
    val r1 = expr("(cast(__P as decimal(38,0)) + 1) div 2")
    val r2 = expr("cast(__P as decimal(38,0)) div 2 + 1")
    val marked = grid
      .withColumn("__cum", cum).withColumn("__P", tot)
      .withColumn("__r1", r1).withColumn("__r2", r2)
    val agg = marked.groupBy(gCols: _*).agg(
      min(when(col("__cum") >= col("__r1"), col("__s"))).as("__sa"),
      min(when(col("__cum") >= col("__r2"), col("__s"))).as("__sb"),
      max(col("__P")).as("__np"))
    val nTbl = byVal.groupBy(gCols: _*).agg(sum(col("__c")).as("n"))
    nTbl.join(agg, groupBy)
      .select(gCols
        :+ col("n")
        :+ col("__np").cast("long").as("n_walsh")
        :+ (col("__sa") + col("__sb")).as("hl_quarter_micros"): _*)
      .orderBy(gCols: _*)
  }

  /** Mixture sequential probability ratio test (mSPRT, Johari et al.) —
    * the ALWAYS-VALID A/B monitor: peek at the experiment every day
    * without inflating false positives. Per day t, over the CUMULATIVE
    * two-sample stream with mean difference δ̂ and its plug-in variance
    * V = σ̂²(1/n_a + 1/n_b), the Gaussian-mixture likelihood ratio
    *
    *   Λ_t = √(V/(V+τ²)) · exp( δ̂²·τ² / (2·V·(V+τ²)) )
    *
    * gives the always-valid p-value p_t = running-min of min(1, 1/Λ_t)
    * — monotone, so "stop the first day p < α" is a valid rule at any
    * peeking cadence (the fixed-horizon q_welch can NOT be read daily).
    * Per day: `(day, n_a, n_b, delta_micros, lambda, p_always)` —
    * δ̂ as round-half-up integer micros, Λ and p at 6 dp.
    *
    * Determinism: daily moments micro-quantize and cumulate as exact
    * decimals (calendar-bounded windows); each day's Λ is one fixed
    * IEEE tree on those integers (√/exp on identical doubles — the
    * welch/post-libm class), and the running min compares identical
    * doubles before the single 6 dp rounding.
    *
    * Scale shape: one (day)-keyed conditional moment aggregation, then
    * cumulative windows over the ≤ days-bounded table — the q_pchart
    * contract; nothing after the first exchange is data-sized.
    *
    * @param tauSq mixture variance τ² in VALUE units² — the prior
    *              effect scale; larger τ² = faster detection of large
    *              effects, slower of small ones
    */
  def msprt(df: DataFrame, inA: Column, inB: Column, ts: Column,
            value: Column, tauSq: Double): DataFrame = {
    require(tauSq > 0.0, s"tauSq must be positive: $tauSq")
    val dec = DecimalType(38, 0)
    def q(c: Column): Column = round(c * lit(1e6), 0).cast("long")
    val base = df.select(
        when(inA, lit("a")).when(inB, lit("b")).as("__g"),
        floor(unix_micros(ts) / lit(86400000000L)).cast("long").as("__d"),
        q(value).as("__x"))
      .filter(col("__g").isNotNull && col("__d").isNotNull && col("__x").isNotNull)
    val daily = base.groupBy(col("__d")).agg(
      sum(when(col("__g") === "a", 1L).otherwise(0L)).as("__na"),
      sum(when(col("__g") === "b", 1L).otherwise(0L)).as("__nb"),
      sum(when(col("__g") === "a", col("__x").cast(dec))
        .otherwise(lit(0).cast(dec))).as("__sa"),
      sum(when(col("__g") === "b", col("__x").cast(dec))
        .otherwise(lit(0).cast(dec))).as("__sb"),
      sum(when(col("__g") === "a", col("__x").cast(dec) * col("__x").cast(dec))
        .otherwise(lit(0).cast(dec))).as("__qa"),
      sum(when(col("__g") === "b", col("__x").cast(dec) * col("__x").cast(dec))
        .otherwise(lit(0).cast(dec))).as("__qb"))
    val wCum = org.apache.spark.sql.expressions.Window
      .orderBy(col("__d")).rowsBetween(Long.MinValue, 0)
    val cum = daily.select(col("__d"),
      sum(col("__na")).over(wCum).as("__cna"),
      sum(col("__nb")).over(wCum).as("__cnb"),
      sum(col("__sa")).over(wCum).as("__csa"),
      sum(col("__sb")).over(wCum).as("__csb"),
      sum(col("__qa")).over(wCum).as("__cqa"),
      sum(col("__qb")).over(wCum).as("__cqb"))
    def d(c: String): Column = col(c).cast("double")
    val naD = d("__cna"); val nbD = d("__cnb")
    val delta = d("__csa") / naD - d("__csb") / nbD // micro units
    val sig2 = ((d("__cqa") - d("__csa") * d("__csa") / naD) +
      (d("__cqb") - d("__csb") * d("__csb") / nbD)) / (naD + nbD - lit(2.0))
    val v = sig2 * (lit(1.0) / naD + lit(1.0) / nbD)
    val t2 = lit(tauSq) * lit(1e12) // micro² units
    val lam = sqrt(v / (v + t2)) * exp(delta * delta * t2 /
      (lit(2.0) * v * (v + t2)))
    val pDay = least(lit(1.0), lit(1.0) / lam)
    val ok = col("__cna") >= 2L && col("__cnb") >= 2L && v > 0.0
    val scored = cum.select(col("__d"), col("__cna"), col("__cnb"),
      when(col("__cna") > 0L && col("__cnb") > 0L,
        round(delta, 0).cast("long")).as("delta_micros"),
      when(ok, lam).as("__lam"), when(ok, pDay).otherwise(lit(1.0)).as("__p"))
    val wMin = org.apache.spark.sql.expressions.Window
      .orderBy(col("__d")).rowsBetween(Long.MinValue, 0)
    scored.select(col("__d").as("day"),
        col("__cna").as("n_a"), col("__cnb").as("n_b"),
        col("delta_micros"),
        round(col("__lam"), 6).as("lambda"),
        round(min(col("__p")).over(wMin), 6).as("p_always"))
      .orderBy(col("day"))
  }

  /** Group-sequential A/B monitor with the classic O'Brien-Fleming
    * boundary — the FIXED-SCHEDULE complement to [[msprt]]'s
    * always-valid stream: the experiment plans `plannedLooks` equally
    * spaced interim analyses over its calendar window, and look k of K
    * rejects when |Z_k| > C_B(K)·√(K/k) — very conservative early,
    * ≈ the fixed-horizon 1.96 at the final look, overall two-sided
    * α = 0.05 (C_B from Jennison & Turnbull 2000, Table 2.3:
    * K = 1..10 → 1.960, 1.977, 2.004, 2.024, 2.040, 2.053, 2.063,
    * 2.072, 2.080, 2.087).
    *
    * Days map to looks by exact integral division over the observed
    * day span; per look the CUMULATIVE two-sample z = δ̂/√V uses the
    * same quantized-moment machinery as [[msprt]]. Per look:
    * `(look, n_a, n_b, delta_micros, z, z_bound, crossed)`.
    *
    * Determinism: the day→look map is pure integer arithmetic; moments
    * micro-quantize and cumulate as exact decimals over the ≤ K-row
    * look table; z and the boundary are fixed IEEE trees (√ on
    * identical doubles, the welch/post-libm class); `crossed` compares
    * the raw doubles before any display rounding.
    *
    * Scale shape: one day-keyed aggregation (the q_pchart bound), a
    * tiny look rollup, cumulative windows over ≤ K rows.
    */
  def gstMonitor(df: DataFrame, inA: Column, inB: Column, ts: Column,
                 value: Column, plannedLooks: Int = 5): DataFrame = {
    val cTable = Map(1 -> 1.960, 2 -> 1.977, 3 -> 2.004, 4 -> 2.024,
      5 -> 2.040, 6 -> 2.053, 7 -> 2.063, 8 -> 2.072, 9 -> 2.080, 10 -> 2.087)
    require(cTable.contains(plannedLooks),
      s"plannedLooks must be in 1..10 (the tabulated O'Brien-Fleming " +
        s"constants): $plannedLooks")
    val cB = cTable(plannedLooks)
    val kLit = plannedLooks.toLong
    val dec = DecimalType(38, 0)
    def q(c: Column): Column = round(c * lit(1e6), 0).cast("long")
    val base = df.select(
        when(inA, lit("a")).when(inB, lit("b")).as("__g"),
        floor(unix_micros(ts) / lit(86400000000L)).cast("long").as("__d"),
        q(value).as("__x"))
      .filter(col("__g").isNotNull && col("__d").isNotNull && col("__x").isNotNull)
    val daily = base.groupBy(col("__d")).agg(
      sum(when(col("__g") === "a", 1L).otherwise(0L)).as("__na"),
      sum(when(col("__g") === "b", 1L).otherwise(0L)).as("__nb"),
      sum(when(col("__g") === "a", col("__x").cast(dec))
        .otherwise(lit(0).cast(dec))).as("__sa"),
      sum(when(col("__g") === "b", col("__x").cast(dec))
        .otherwise(lit(0).cast(dec))).as("__sb"),
      sum(when(col("__g") === "a", col("__x").cast(dec) * col("__x").cast(dec))
        .otherwise(lit(0).cast(dec))).as("__qa"),
      sum(when(col("__g") === "b", col("__x").cast(dec) * col("__x").cast(dec))
        .otherwise(lit(0).cast(dec))).as("__qb"))
    val span = daily.agg(min(col("__d")).as("__d0"), max(col("__d")).as("__d1"))
    // day -> look: exact integral division over the observed span
    val byLook = daily.crossJoin(broadcast(span))
      .withColumn("__k", expr(
        s"((__d - __d0) * $kLit) div (__d1 - __d0 + 1) + 1").cast("long"))
      .groupBy(col("__k")).agg(
        sum(col("__na")).as("__na"), sum(col("__nb")).as("__nb"),
        sum(col("__sa")).as("__sa"), sum(col("__sb")).as("__sb"),
        sum(col("__qa")).as("__qa"), sum(col("__qb")).as("__qb"))
    val wCum = org.apache.spark.sql.expressions.Window
      .orderBy(col("__k")).rowsBetween(Long.MinValue, 0)
    val cum = byLook.select(col("__k"),
      sum(col("__na")).over(wCum).as("__cna"),
      sum(col("__nb")).over(wCum).as("__cnb"),
      sum(col("__sa")).over(wCum).as("__csa"),
      sum(col("__sb")).over(wCum).as("__csb"),
      sum(col("__qa")).over(wCum).as("__cqa"),
      sum(col("__qb")).over(wCum).as("__cqb"))
    def d(c: String): Column = col(c).cast("double")
    val naD = d("__cna"); val nbD = d("__cnb")
    val delta = d("__csa") / naD - d("__csb") / nbD // micro units
    val sig2 = ((d("__cqa") - d("__csa") * d("__csa") / naD) +
      (d("__cqb") - d("__csb") * d("__csb") / nbD)) / (naD + nbD - lit(2.0))
    val v = sig2 * (lit(1.0) / naD + lit(1.0) / nbD)
    val z = delta / sqrt(v)
    val bound = lit(cB) * sqrt(lit(kLit.toDouble) / col("__k").cast("double"))
    val ok = col("__cna") >= 2L && col("__cnb") >= 2L && v > 0.0
    cum.select(col("__k").as("look"),
        col("__cna").as("n_a"), col("__cnb").as("n_b"),
        when(col("__cna") > 0L && col("__cnb") > 0L,
          round(delta, 0).cast("long")).as("delta_micros"),
        when(ok, round(z, 6)).as("z"),
        round(bound, 6).as("z_bound"),
        when(ok && abs(z) > bound, 1L).otherwise(0L).as("crossed"))
      .orderBy(col("look"))
  }

  /** Distance correlation (Székely-Rizzo V-statistic) on a BUCKETED
    * grid — the nonlinear-dependence detector Pearson/Spearman cannot
    * be: dCor = 0 iff independent (in the limit), and it fires on
    * U-shapes, rings, and heteroscedastic fans that leave r ≈ 0.
    * Values discretize into `buckets` equal-width bins (the standard
    * grid estimator, stated as such — bin ids are pure integral
    * divisions over micro values, so every engine buckets
    * identically); with Â(b,b') = n²|b−b'| − n·Sx(b) − n·Sx(b') + Tx
    * (the double-centered distance SCALED BY n², an exact integer;
    * Sx(b) = Σ_b' |b−b'|·cnt(b'), Tx = Σ_b cnt(b)·Sx(b)):
    *
    *   dCov² = Σ_{cells c,c'} w_c·w_c'·Â_x·Â_y / n⁶,
    *   dCor  = dCov / √(dVar_x·dVar_y)
    *
    * One row: `(n, buckets, dcov2, dvar_x, dvar_y, dcor)` — moments in
    * bucket² units, 6 dp; dCor in [0, 1].
    *
    * Determinism: Â factors are exact integers; each of the ≤ B⁴
    * cell-pair terms evaluates one fixed IEEE tree and nano-quantizes
    * before an exact integer total (order-free — and the reason no
    * decimal ever overflows at any n).
    *
    * Scale shape: ONE (bx, by) map-combined aggregation reduces the
    * data to ≤ B² cells (B ≤ 64 ⇒ ≤ 4096 — bounded-driver-state by
    * construction, the k-means-centers contract); marginals, Â
    * factors and the ≤ B⁴-term reduction are driver arithmetic. Raw
    * rows shuffle once; nothing downstream is data-sized.
    */
  def distanceCorrelation(df: DataFrame, x: Column, y: Column,
                          buckets: Int = 32): DataFrame = {
    require(buckets >= 2 && buckets <= 64, s"buckets out of range: $buckets")
    val spark = df.sparkSession
    def q(c: Column): Column = round(c * lit(1e6), 0).cast("long")
    val base = df.select(q(x).as("__x"), q(y).as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cells: Array[(Long, Long, Long)] = Observe.releasing(base) {
      val ext = Observe.scalars(base, min(col("__x")), max(col("__x")),
        min(col("__y")), max(col("__y")))
      require(!ext.isNullAt(0), "distanceCorrelation needs at least one row")
      val (xmn, xmx) = (ext.getLong(0), ext.getLong(1))
      val (ymn, ymx) = (ext.getLong(2), ext.getLong(3))
      // equal-width integral bucketing: b = ((v − mn)·B) div (range + 1) —
      // the +1 lands the top edge in bucket B−1 with no clamp, no float
      def bucket(name: String, mn: Long, mx: Long): Column =
        if (mx == mn) lit(0L)
        else expr(s"(cast(($name - ${mn}L) as decimal(38,0)) * $buckets) " +
          s"div ${mx - mn + 1}L")
      base.select(
          bucket("__x", xmn, xmx).as("__bx"),
          bucket("__y", ymn, ymx).as("__by"))
        .groupBy(col("__bx"), col("__by")).agg(count(lit(1)).as("__w"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    }
    val n = cells.map(_._3).sum
    def margS(sel: ((Long, Long, Long)) => Long): (Map[Long, BigInt], BigInt) = {
      val cnt = cells.groupBy(sel).map { case (b, cs) =>
        b -> BigInt(cs.map(_._3).sum) }
      val s = cnt.keys.map(b => b -> cnt.map { case (b2, c) =>
        c * math.abs(b - b2) }.sum).toMap
      (s, cnt.map { case (b, c) => c * s(b) }.sum)
    }
    val (sx, tx) = margS(_._1)
    val (sy, ty) = margS(_._2)
    val nB = BigInt(n)
    def aHat(b1: Long, b2: Long, s: Map[Long, BigInt], t: BigInt): BigInt =
      nB * nB * math.abs(b1 - b2) - nB * s(b1) - nB * s(b2) + t
    val n2 = n.toDouble * n.toDouble
    val n6 = n2 * n2 * n2
    def nano(x: Double): Long = BigDecimal(x)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    var covN = BigInt(0); var vxN = BigInt(0); var vyN = BigInt(0)
    for ((bx1, by1, w1) <- cells; (bx2, by2, w2) <- cells) {
      val ax = aHat(bx1, bx2, sx, tx).toDouble
      val ay = aHat(by1, by2, sy, ty).toDouble
      val ww = w1.toDouble * w2.toDouble
      covN += nano(ax * ay * ww / n6 * 1e9)
      vxN += nano(ax * ax * ww / n6 * 1e9)
      vyN += nano(ay * ay * ww / n6 * 1e9)
    }
    val dcov2 = covN.toDouble / 1e9
    val dvx = vxN.toDouble / 1e9
    val dvy = vyN.toDouble / 1e9
    val dcor =
      if (dvx > 0.0 && dvy > 0.0 && dcov2 > 0.0)
        Some(math.sqrt(dcov2 / math.sqrt(dvx * dvy)))
      else None
    import spark.implicits._
    Seq((n, buckets.toLong,
        BigDecimal(dcov2).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(dvx).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(dvy).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        dcor.map(d => BigDecimal(d)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
      .toDF("n", "buckets", "dcov2", "dvar_x", "dvar_y", "dcor")
  }

  /** Rousseeuw-Croux Qn robust scale — the k-th order statistic of all
    * C(n,2) pairwise absolute differences, k = C(⌊n/2⌋+1, 2): 50%
    * breakdown (vs MAD's asymmetry blindness) and 82% Gaussian
    * efficiency (vs MAD's 37%) — the modern robust sigma. Returned RAW
    * (the 2.2219 Gaussian-consistency factor is the caller's, stated):
    * `(groups..., n, n_pairs, k, qn_raw_micros)` — all BIGINT
    * (the selected pairwise difference in exact micro units; no float
    * surface).
    *
    * Determinism: the [[hodgesLehmann]] machinery with sums swapped
    * for differences — micro-quantized value domain, exact pair
    * multiplicities (c₁c₂ off-diagonal, C(c,2) zeros on it), an
    * integer cumulative crossing at rank k.
    *
    * Scale shape: one (group, value) map-combined aggregation; a
    * distinct²-bounded difference grid (guarded by `maxDistinct` via a
    * cheap pre-join probe); one bounded cumulative window. Raw rows
    * shuffle once.
    */
  def qnScale(df: DataFrame, groupBy: Seq[String], value: Column,
              maxDistinct: Long = 4096L): DataFrame = {
    require(groupBy.nonEmpty,
      "qnScale needs group keys (use a constant column for a global test)")
    require(maxDistinct >= 2L, s"maxDistinct must be >= 2: $maxDistinct")
    val dec = DecimalType(38, 0)
    def q(c: Column): Column = round(c * lit(1e6), 0).cast("long")
    val gCols = groupBy.map(col)
    val byVal = df.select(gCols :+ q(value).as("__x"): _*)
      .filter(gCols.map(_.isNotNull).reduce(_ && _) && col("__x").isNotNull)
      .groupBy(gCols :+ col("__x"): _*)
      .agg(count(lit(1)).as("__c"))
    // not persisted: the returned frame reads byVal after this call ends,
    // so nothing could release a cache entry, and ReuseExchange already
    // shares its one exchange among the reads of that frame
    val worst = Observe.scalars(byVal.groupBy(gCols: _*).agg(count(lit(1)).as("__d")),
      max(col("__d")))
    val worstD = if (worst.isNullAt(0)) 0L else worst.getLong(0)
    require(worstD <= maxDistinct,
      s"qnScale's difference grid is distinct-value²-bounded; a group " +
        s"has $worstD distinct quantized values (cap $maxDistinct). " +
        s"Coarsen the quantization or pre-bucket the value.")
    val right = byVal.select(gCols :+ col("__x").as("__x2") :+ col("__c").as("__c2"): _*)
    val grid = byVal.join(right, groupBy).filter(col("__x2") >= col("__x"))
      .select(gCols
        :+ (col("__x2") - col("__x")).as("__s")
        :+ when(col("__x2") > col("__x"), col("__c").cast(dec) * col("__c2").cast(dec))
          .otherwise(expr("cast(__c as decimal(38,0)) * (__c - 1) div 2").cast(dec))
          .as("__w"): _*)
      .groupBy(gCols :+ col("__s"): _*)
      .agg(sum(col("__w")).as("__w"))
      // zero-weight diagonal cells (c = 1 values) carry no pairs
      .filter(col("__w") > 0)
    val nTbl = byVal.groupBy(gCols: _*).agg(sum(col("__c")).as("n"))
      // k = C(h, 2), h = n div 2 + 1 — exact integer rank
      .select(gCols :+ col("n")
        :+ expr("cast((n div 2 + 1) as decimal(38,0)) * (n div 2) div 2")
          .as("__k"): _*)
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(gCols: _*).orderBy(col("__s"))
      .rowsBetween(Long.MinValue, 0)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(gCols: _*)
    val marked = grid
      .withColumn("__cum", sum(col("__w")).over(wOrd))
      .withColumn("__np", sum(col("__w")).over(wAll))
      .join(broadcast(nTbl), groupBy)
    marked.groupBy(gCols: _*).agg(
        first(col("n")).as("n"),
        max(col("__np")).cast("long").as("n_pairs"),
        first(col("__k")).as("k"),
        min(when(col("__cum") >= col("__k"), col("__s"))).as("qn_raw_micros"))
      .select(gCols :+ col("n") :+ col("n_pairs") :+ col("k")
        :+ col("qn_raw_micros"): _*)
      .orderBy(gCols: _*)
  }

  /** Two-sample Hotelling T² on TWO features — "did the (x, y) mean
    * VECTOR move?", the multivariate question two marginal t-tests get
    * wrong when x and y are correlated (a joint shift along the minor
    * axis hides from both marginals):
    *
    *   T² = (n_a·n_b/N) · d' S⁻¹ d,   F = (N−3)/(2(N−2)) · T²
    *
    * with d the mean-difference vector and S the pooled within-group
    * covariance (2×2 — inverted in closed form, no solver). One row:
    * `(n_a, n_b, mean_dx_micros, mean_dy_micros, t2, f)`; nulls when
    * either arm has < 2 rows or S is singular.
    *
    * Determinism: both features micro-quantize per row; all six moments
    * per arm are exact decimal sums in ONE map-combined conditional
    * aggregation; T²/F are fixed IEEE trees (each exact sum cast to
    * double once — the groupWls overflow discipline), 6 dp.
    *
    * Scale shape: one grand aggregation, 1-row output — the [[welchT]]
    * contract, two features wide.
    */
  def hotellingT2(df: DataFrame, inA: Column, inB: Column,
                  x: Column, y: Column): DataFrame = {
    val dec = DecimalType(38, 0)
    def q(c: Column): Column = round(c * lit(1e6), 0).cast("long")
    val base = df.select(
        when(inA, lit("a")).when(inB, lit("b")).as("__g"),
        q(x).as("__x"), q(y).as("__y"))
      .filter(col("__g").isNotNull && col("__x").isNotNull && col("__y").isNotNull)
    def m(g: String, e: Column): Column =
      sum(when(col("__g") === g, e).otherwise(lit(0).cast(dec)))
    val agg = base.agg(
      sum(when(col("__g") === "a", 1L).otherwise(0L)).as("n_a"),
      sum(when(col("__g") === "b", 1L).otherwise(0L)).as("n_b"),
      m("a", col("__x").cast(dec)).as("__sxa"),
      m("a", col("__y").cast(dec)).as("__sya"),
      m("a", col("__x").cast(dec) * col("__x").cast(dec)).as("__sxxa"),
      m("a", col("__y").cast(dec) * col("__y").cast(dec)).as("__syya"),
      m("a", col("__x").cast(dec) * col("__y").cast(dec)).as("__sxya"),
      m("b", col("__x").cast(dec)).as("__sxb"),
      m("b", col("__y").cast(dec)).as("__syb"),
      m("b", col("__x").cast(dec) * col("__x").cast(dec)).as("__sxxb"),
      m("b", col("__y").cast(dec) * col("__y").cast(dec)).as("__syyb"),
      m("b", col("__x").cast(dec) * col("__y").cast(dec)).as("__sxyb"))
    def d(c: String): Column = col(c).cast("double")
    val naD = col("n_a").cast("double")
    val nbD = col("n_b").cast("double")
    val bigN = naD + nbD
    val dx = d("__sxa") / naD - d("__sxb") / nbD          // micro units
    val dy = d("__sya") / naD - d("__syb") / nbD
    // pooled centered SSCP / (N − 2), in micro² units
    val wxx = (d("__sxxa") - d("__sxa") * d("__sxa") / naD +
      d("__sxxb") - d("__sxb") * d("__sxb") / nbD) / (bigN - lit(2.0))
    val wyy = (d("__syya") - d("__sya") * d("__sya") / naD +
      d("__syyb") - d("__syb") * d("__syb") / nbD) / (bigN - lit(2.0))
    val wxy = (d("__sxya") - d("__sxa") * d("__sya") / naD +
      d("__sxyb") - d("__sxb") * d("__syb") / nbD) / (bigN - lit(2.0))
    val det = wxx * wyy - wxy * wxy
    val quad = (dx * (wyy * dx - wxy * dy) + dy * (wxx * dy - wxy * dx)) / det
    val t2 = naD * nbD / bigN * quad
    val f = (bigN - lit(3.0)) / (lit(2.0) * (bigN - lit(2.0))) * t2
    val ok = col("n_a") >= 2L && col("n_b") >= 2L && det > 0.0
    agg.select(col("n_a"), col("n_b"),
      round(dx, 0).cast("long").as("mean_dx_micros"),
      round(dy, 0).cast("long").as("mean_dy_micros"),
      when(ok, round(t2, 6)).as("t2"),
      when(ok, round(f, 6)).as("f"))
  }

  /** Brunner-Munzel test — the heteroscedasticity-honest replacement
    * for Mann-Whitney when the two samples may differ in SHAPE, not
    * just location (the Behrens-Fisher situation rank tests usually
    * ignore): estimates p = P(X < Y) + ½P(X = Y) from midranks and
    * studentizes it with EACH sample's own rank variance,
    *
    *   t  = n₁n₂(R̄₂ − R̄₁) / (N √(n₁S₁² + n₂S₂²))
    *   df = (n₁S₁² + n₂S₂²)² / ((n₁S₁²)²/(n₁−1) + (n₂S₂²)²/(n₂−1))
    *
    * with Sᵢ² the variance of (overall − internal) midranks in sample
    * i. Per group: `(groups..., n_a, n_b, p_hat, bm_t, df)`, 6 dp;
    * nulls when a sample has < 2 rows or both rank variances are 0
    * (complete separation — the statistic is ±∞, report null not NaN).
    *
    * Determinism: DOUBLE-midranks (2·midrank — always integers) come
    * from exact cumulative counts over the distinct-value spine; each
    * per-value deviation term is an exact integer cleared of the rank
    * means (nᵢAᵥ − Tᵢ), squared in double at bounded magnitude and
    * milli-quantized BEFORE the exact group sums (order-free); the
    * final statistic is one fixed IEEE tree.
    *
    * Scale shape: the [[mannWhitneyU]]/[[cliffsDelta]] spine — one
    * (group, value) map-combined aggregation, bounded cumulative
    * windows, a group-bounded broadcast join of the rank totals back
    * onto the value table, one final rollup. Raw rows shuffle once.
    */
  def brunnerMunzel(df: DataFrame, groupBy: Seq[String],
                    inA: Column, inB: Column, value: Column): DataFrame = {
    require(groupBy.nonEmpty,
      "brunnerMunzel needs group keys (use a constant column for a global test)")
    val dec = DecimalType(38, 0)
    def q(c: Column): Column = round(c * lit(1e6), 0).cast("long")
    val gCols = groupBy.map(col)
    val tagged = df.select(
        gCols :+ when(inA, lit("a")).when(inB, lit("b")).as("__g")
          :+ q(value).as("__x"): _*)
      .filter(col("__g").isNotNull && col("__x").isNotNull)
    val byVal = tagged
      .groupBy(gCols :+ col("__x"): _*)
      .agg(sum(when(col("__g") === "a", 1L).otherwise(0L)).as("__a_v"),
        sum(when(col("__g") === "b", 1L).otherwise(0L)).as("__b_v"))
    val W = org.apache.spark.sql.expressions.Window
      .partitionBy(gCols: _*).orderBy(col("__x")).rowsBetween(Long.MinValue, -1)
    val below = coalesce(sum(col("__a_v") + col("__b_v")).over(W), lit(0L))
    val belowA = coalesce(sum(col("__a_v")).over(W), lit(0L))
    val belowB = coalesce(sum(col("__b_v")).over(W), lit(0L))
    // DOUBLE-midranks (2×midrank) — integers even at ties
    val ranked = byVal.select(gCols
      :+ col("__a_v") :+ col("__b_v")
      :+ (lit(2L) * below + col("__a_v") + col("__b_v") + 1L).as("__R2")
      :+ (lit(2L) * belowA + col("__a_v") + 1L).as("__R2a")
      :+ (lit(2L) * belowB + col("__b_v") + 1L).as("__R2b"): _*)
    val stats = ranked.groupBy(gCols: _*).agg(
      sum(col("__a_v")).as("__n1"), sum(col("__b_v")).as("__n2"),
      sum(col("__a_v").cast(dec) * col("__R2").cast(dec)).as("__sr1"),
      sum(col("__b_v").cast(dec) * col("__R2").cast(dec)).as("__sr2"))
    // T_i = Σ c·R2 − n_i(n_i+1): the cleared rank-mean term, exact
    val withT = stats.select(gCols
      :+ col("__n1") :+ col("__n2") :+ col("__sr1") :+ col("__sr2")
      :+ (col("__sr1") - col("__n1").cast(dec) * (col("__n1") + 1L).cast(dec))
        .as("__t1")
      :+ (col("__sr2") - col("__n2").cast(dec) * (col("__n2") + 1L).cast(dec))
        .as("__t2"): _*)
    val j = ranked.join(broadcast(withT), groupBy)
    // per-value deviation d = (n_i·A − T_i)/(2 n_i), A = R2 − R2int:
    // the inner term is an exact decimal; squared in double at ≤ N
    // magnitude and milli-quantized before the exact sum
    def devTerm(cv: Column, r2int: Column, n: Column, t: Column): Column = {
      val inner = (n.cast(dec) * (col("__R2") - r2int).cast(dec) - t).cast("double")
      val d = inner / (lit(2.0) * n.cast("double"))
      round(cv.cast("double") * d * d * lit(1e3), 0).cast(dec)
    }
    val sums = j.groupBy(gCols: _*).agg(
      first(col("__n1")).as("n_a"), first(col("__n2")).as("n_b"),
      first(col("__sr1")).as("__s1"), first(col("__sr2")).as("__s2"),
      sum(devTerm(col("__a_v"), col("__R2a"), col("__n1"), col("__t1"))).as("__q1"),
      sum(devTerm(col("__b_v"), col("__R2b"), col("__n2"), col("__t2"))).as("__q2"))
    val n1 = col("n_a").cast("double")
    val n2 = col("n_b").cast("double")
    val bigN = n1 + n2
    val rbar1 = col("__s1").cast("double") / (lit(2.0) * n1)
    val rbar2 = col("__s2").cast("double") / (lit(2.0) * n2)
    val v1 = col("__q1").cast("double") / lit(1e3) / (n1 - lit(1.0))
    val v2 = col("__q2").cast("double") / lit(1e3) / (n2 - lit(1.0))
    val pooled = n1 * v1 + n2 * v2
    val tStat = n1 * n2 * (rbar2 - rbar1) / bigN / sqrt(pooled)
    val dfW = pooled * pooled /
      ((n1 * v1) * (n1 * v1) / (n1 - lit(1.0)) +
        (n2 * v2) * (n2 * v2) / (n2 - lit(1.0)))
    val ok = col("n_a") >= 2L && col("n_b") >= 2L
    sums.select(gCols
      :+ col("n_a") :+ col("n_b")
      :+ when(ok, round((rbar2 - (n2 + lit(1.0)) / lit(2.0)) / n1, 6)).as("p_hat")
      :+ when(ok && pooled > 0.0, round(tStat, 6)).as("bm_t")
      :+ when(ok && pooled > 0.0, round(dfW, 6)).as("df"): _*)
      .orderBy(gCols: _*)
  }
}
