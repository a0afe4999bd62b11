package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testing.TestSpark
import graft.testing.DfAssert.createDf

/** Hand-checked values for the round-11 operators: 1-Wasserstein,
  * energy distance, group fairness, vocabulary coverage, and the
  * exact classifier decision.
  */
class Round11OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("wasserstein1: {0,2} vs {1,3} is a unit shift; identical samples are 0") {
    val rows = Seq[(String, String, Double)](
      ("g", "a", 0.0), ("g", "a", 2.0), ("g", "b", 1.0), ("g", "b", 3.0),
      ("h", "a", 5.0), ("h", "a", 7.0), ("h", "b", 5.0), ("h", "b", 7.0))
    val df = createDf(spark, "g string, side string, v double",
      rows.map { case (g, s, v) => Seq[Any](g, s, v) })
    val out = Drift.wasserstein1Grouped(df, Seq("g"),
        col("side") === "a", col("side") === "b", col("v"))
      .orderBy("g").collect()
    assert(out(0).getLong(1) == 2L && out(0).getLong(2) == 2L)
    assert(out(0).getDouble(3) == 1.0) // mass moves exactly 1 unit
    assert(out(1).getDouble(3) == 0.0) // identical distributions
  }

  test("wasserstein1 is symmetric in the two samples") {
    val rows = Seq[(String, Double)](("a", 0.0), ("a", 0.5), ("a", 9.25),
      ("b", 1.0), ("b", 1.0), ("b", 4.75))
    val df = createDf(spark, "g string, side string, v double",
      rows.map { case (s, v) => Seq[Any]("g", s, v) })
    def w1(x: String, y: String): Double =
      Drift.wasserstein1Grouped(df, Seq("g"),
        col("side") === x, col("side") === y, col("v"))
        .collect().head.getDouble(3)
    assert(w1("a", "b") == w1("b", "a"))
    assert(w1("a", "b") > 0.0)
  }

  test("energy distance: point masses at 0 and 1 give E=2; identical samples give 0") {
    val rows = Seq[(String, String, Double)](
      ("g", "a", 0.0), ("g", "b", 1.0),
      ("h", "a", 0.0), ("h", "a", 1.0), ("h", "b", 0.0), ("h", "b", 1.0))
    val df = createDf(spark, "g string, side string, v double",
      rows.map { case (g, s, v) => Seq[Any](g, s, v) })
    val out = Drift.energyDistanceGrouped(df, Seq("g"),
        col("side") === "a", col("side") === "b", col("v"))
      .orderBy("g").collect()
    // g: E|X-Y|=1, within means 0 -> E = 2
    assert(out(0).getDouble(3) == 1.0)   // mean_cross
    assert(out(0).getDouble(4) == 0.0)   // mean_within_a
    assert(out(0).getDouble(6) == 2.0)   // energy
    // h: identical two-point distributions -> E = 0 (cross 0.5, within 0.5)
    assert(out(1).getDouble(3) == 0.5)
    assert(out(1).getDouble(4) == 0.5)
    assert(out(1).getDouble(6) == 0.0)
  }

  test("group fairness: hand-counted rates, null rates on empty denominators") {
    // group g: 4 rows, 2 pos; selected = {pos1, neg1} -> sel_rate .5,
    // tpr .5, fpr .5, precision .5. group h: all positive, none selected.
    val rows = Seq[(String, Boolean, Boolean)](
      ("g", true, true), ("g", true, false), ("g", false, true), ("g", false, false),
      ("h", true, false), ("h", true, false))
    val df = createDf(spark, "g string, y boolean, s boolean",
      rows.map { case (g, y, s) => Seq[Any](g, y, s) })
    val out = graft.ops.Calibration.groupFairness(df, Seq("g"), col("y"), col("s"))
      .orderBy("g").collect()
    val g = out(0)
    assert(g.getLong(1) == 4L && g.getLong(2) == 2L && g.getLong(3) == 2L && g.getLong(4) == 1L)
    assert(g.getDouble(5) == 0.5 && g.getDouble(6) == 0.5)
    assert(g.getDouble(7) == 0.5 && g.getDouble(8) == 0.5)
    val h = out(1)
    assert(h.getLong(3) == 0L)
    assert(h.getDouble(5) == 0.0)      // sel_rate 0
    assert(h.getDouble(6) == 0.0)      // tpr 0
    assert(h.isNullAt(7))              // fpr: no negatives
    assert(h.isNullAt(8))              // precision: nothing selected
  }

  test("vocab coverage: hand-counted top-k shares with k past the vocab size") {
    // tokens: a x4, b x2, c x1, d x1 -> total 8
    val docs = createDf(spark, "text string",
      Seq(Seq[Any]("a a b c"), Seq[Any]("a b d A")))
    val out = graft.text.Rank.vocabCoverage(docs, col("text"), Seq(1, 2, 10))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(out(0) == ((1L, 1L, 4L, 8L, 0.5)))
    assert(out(1) == ((2L, 2L, 6L, 8L, 0.75)))
    assert(out(2) == ((10L, 4L, 8L, 8L, 1.0))) // vocab smaller than k
  }

  test("vocab coverage leaves no cached frame behind") {
    val docs = createDf(spark, "text string",
      Seq(Seq[Any]("a a b c"), Seq[Any]("a b d A")))
    assert(graft.testing.SparkActions.leftPersisted(
      graft.text.Rank.vocabCoverage(docs, col("text"), Seq(1, 2, 10)).collect()).isEmpty)
  }

  test("selectedAtHalf agrees with thresholding the score away from the boundary") {
    val w = graft.text.Classify.demoWeightsMicros(64)
    val docs = graft.sources.Sources.readTable(spark, "/root/testdata/sf0.001", "documents")
      .filter(col("text").isNotNull).limit(200)
    val scored = docs.select(
      graft.text.Classify.score(col("text"), w, biasMicros = -50000L).as("sc"),
      graft.text.Classify.selectedAtHalf(col("text"), w, biasMicros = -50000L).as("sel"))
    // away from the 6-dp rounding boundary the two must agree exactly
    val disagree = scored
      .filter(abs(col("sc") - lit(0.5)) > lit(1e-5))
      .filter((col("sc") >= 0.5) =!= col("sel")).count()
    assert(disagree == 0L)
    // and the decision actually splits the sample (non-degenerate)
    val sels = scored.agg(sum(when(col("sel"), 1L).otherwise(0L))).collect().head.getLong(0)
    assert(sels > 0L && sels < 200L)
  }

  test("cliffsDelta: {1,2,3} vs {2,3,4} gives (gt,lt) = (1,6), delta = -5/9") {
    val rows = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 2.0), ("b", 3.0), ("b", 4.0))
    val df = createDf(spark, "side string, v double",
        rows.map { case (s, v) => Seq[Any](s, v) })
      .withColumn("g", lit("x"))
    val r = Stats.cliffsDelta(df, Seq("g"),
      col("side") === "a", col("side") === "b", col("v")).head()
    assert(r.getLong(1) == 3L && r.getLong(2) == 3L)
    assert(r.getLong(3) == 1L, "gt_pairs")
    assert(r.getLong(4) == 6L, "lt_pairs")
    assert(math.abs(r.getDouble(5) - (-5.0 / 9.0)) < 1e-6)
  }

  test("cliffsDelta: disjoint samples hit the ±1 extremes; identical give 0") {
    val hi = Seq(10.0, 11.0).map(v => ("a", v)) ++ Seq(1.0, 2.0).map(v => ("b", v))
    val df = createDf(spark, "side string, v double",
        hi.map { case (s, v) => Seq[Any](s, v) })
      .withColumn("g", lit("x"))
    val r = Stats.cliffsDelta(df, Seq("g"),
      col("side") === "a", col("side") === "b", col("v")).head()
    assert(r.getDouble(5) == 1.0)
    val same = createDf(spark, "side string, v double",
        Seq(Seq[Any]("a", 5.0), Seq[Any]("b", 5.0)))
      .withColumn("g", lit("x"))
    val r2 = Stats.cliffsDelta(same, Seq("g"),
      col("side") === "a", col("side") === "b", col("v")).head()
    assert(r2.getDouble(5) == 0.0) // all pairs tie
  }

  test("groupRidge: lambda 0 reproduces OLS; lambda 1 shrinks y=x to 0.4") {
    val pts = Seq((0.0, 0.0), (1.0, 1.0), (2.0, 2.0))
    val df = createDf(spark, "x double, y double",
        pts.map { case (x, y) => Seq[Any](x, y) })
      .withColumn("g", lit("x"))
    val r0 = Regression.groupRidge(df, Seq("g"), col("x"), col("y"), 0.0).head()
    assert(r0.getDouble(2) == 1.0 && r0.getDouble(3) == 1.0) // ridge == ols
    // covN = varX = 6e12; denom = 6e12 + 9·1e12 → slope 0.4,
    // intercept = ȳ − 0.4·x̄ = 0.6
    val r1 = Regression.groupRidge(df, Seq("g"), col("x"), col("y"), 1.0).head()
    assert(r1.getDouble(2) == 0.4, "shrunken slope")
    assert(r1.getDouble(3) == 1.0, "ols slope unchanged")
    assert(math.abs(r1.getDouble(4) - 0.6) < 1e-9, "re-centered intercept")
  }

  test("vif3: orthogonal design gives VIF exactly 1; exact collinearity gives null") {
    val ortho = Seq((1.0, 1.0, 1.0), (1.0, -1.0, -1.0), (-1.0, 1.0, -1.0), (-1.0, -1.0, 1.0))
    val df = createDf(spark, "a double, b double, c double",
      ortho.map { case (a, b, c) => Seq[Any](a, b, c) })
    val r = Regression.vif3(df, col("a"), col("b"), col("c")).head()
    assert(r.getDouble(4) == 1.0 && r.getDouble(5) == 1.0 && r.getDouble(6) == 1.0)
    // x3 = x1 + x2: every predictor is a linear combo of the others →
    // all three auxiliary R² hit 1 and every VIF is null (infinite)
    val coll = Seq((1.0, 1.0, 2.0), (1.0, -1.0, 0.0), (-1.0, 1.0, 0.0), (-1.0, -1.0, -2.0))
    val df2 = createDf(spark, "a double, b double, c double",
      coll.map { case (a, b, c) => Seq[Any](a, b, c) })
    val r2 = Regression.vif3(df2, col("a"), col("b"), col("c")).head()
    assert(r2.isNullAt(4) && r2.isNullAt(5) && r2.isNullAt(6))
  }

  test("conformalSplit: k = ceil((n+1)(1-alpha)) picks the exact order statistic") {
    // calibration nonconformities (y = false → nc = score): .1 .2 .3 .4
    // α = .25 → k = ceil(5·.75) = 4 → q̂ = 400000; test {.15, .5} → coverage ½
    val rows = Seq((true, 0.1), (true, 0.2), (true, 0.3), (true, 0.4),
      (false, 0.15), (false, 0.5))
    val df = createDf(spark, "cal boolean, s double",
      rows.map { case (c, s) => Seq[Any](c, s) })
    val r = Calibration.conformalSplit(df, lit(false), col("s"), col("cal"),
      alphaMicro = 250000L).head()
    assert(r.getLong(0) == 4L && r.getLong(1) == 2L)
    assert(r.getLong(2) == 4L, "rank k")
    assert(r.getLong(3) == 400000L, "qhat")
    assert(r.getDouble(4) == 0.5, "coverage")
  }

  test("conformalSplit: k beyond n_cal emits the vacuous threshold 1.0") {
    // n_cal = 2, α = 0.1 → k = ceil(3·0.9) = 3 > 2 → q̂ = 1e6, full coverage
    val rows = Seq((true, 0.2), (true, 0.6), (false, 0.9))
    val df = createDf(spark, "cal boolean, s double",
      rows.map { case (c, s) => Seq[Any](c, s) })
    val r = Calibration.conformalSplit(df, lit(false), col("s"), col("cal"),
      alphaMicro = 100000L).head()
    assert(r.getLong(2) == 3L && r.getLong(3) == 1000000L && r.getDouble(4) == 1.0)
  }

  test("frequentSequences: sliding trigrams per entity, support counts distinct entities") {
    // user 1: a b c a b → windows abc, bca, cab; user 2: a b c → abc
    val rows = Seq((1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, "c"), (1L, 4L, "a"),
      (1L, 5L, "b"), (2L, 1L, "a"), (2L, 2L, "b"), (2L, 3L, "c"))
    val df = createDf(spark, "u bigint, ts bigint, t string",
      rows.map { case (u, ts, t) => Seq[Any](u, ts, t) })
    val out = Funnel.frequentSequences(df, "u", "ts", "ts", "t", len = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.head == (("a>b>c", 2L, 2L)), "top pattern by occurrences")
    assert(out.toSet == Set(("a>b>c", 2L, 2L), ("b>c>a", 1L, 1L), ("c>a>b", 1L, 1L)))
    // minCount prunes the singletons
    val pruned = Funnel.frequentSequences(df, "u", "ts", "ts", "t", len = 3,
      minCount = 2L).collect()
    assert(pruned.length == 1 && pruned.head.getString(0) == "a>b>c")
  }

  test("regressionDiscontinuity: a clean jump at the cutoff recovers tau exactly") {
    // y = x below 10, y = x + 5 at/above 10; perfect lines → SSR 0, se undefined
    val rows = (5 to 14).map { i =>
      Seq[Any](i.toDouble, if (i >= 10) i + 5.0 else i.toDouble)
    }
    val df = createDf(spark, "r double, y double", rows)
    val out = Regression.regressionDiscontinuity(df, col("r"), col("y"),
      cutoff = 10.0, bandwidth = 5.0).head()
    assert(out.getLong(0) == 5L && out.getLong(1) == 5L)
    assert(out.getDouble(2) == 10.0, "left fit extrapolated to the cutoff")
    assert(out.getDouble(3) == 15.0, "right intercept at the cutoff")
    assert(out.getDouble(4) == 1.0 && out.getDouble(5) == 1.0)
    assert(out.getDouble(6) == 5.0, "tau")
    assert(out.isNullAt(7) && out.isNullAt(8), "zero-SSR sides give no SE")
  }

  test("regressionDiscontinuity: noisy no-jump data emits an SE and small tau") {
    val rows = (1 to 40).map { i =>
      Seq[Any](i.toDouble, i + (if (i % 2 == 0) 0.5 else -0.5))
    }
    val df = createDf(spark, "r double, y double", rows)
    val out = Regression.regressionDiscontinuity(df, col("r"), col("y"),
      cutoff = 20.5, bandwidth = 20.0).head()
    assert(out.getLong(0) == 20L && out.getLong(1) == 20L)
    assert(!out.isNullAt(7) && out.getDouble(7) > 0.0)
    assert(math.abs(out.getDouble(6)) < 1.0, "no true discontinuity")
  }

  test("ivWald: hand-checked Wald ratio = ITT / first stage") {
    // z=0: x mean .2, y mean 1; z=1: x mean .7, y mean 2 → beta = 1/.5 = 2
    val rows = Seq(
      (false, 0.0, 0.5), (false, 0.0, 1.0), (false, 0.0, 1.5), (false, 1.0, 1.0), (false, 0.0, 1.0),
      (true, 1.0, 1.5), (true, 1.0, 2.0), (true, 0.0, 2.5), (true, 1.0, 2.0), (true, 0.5, 2.0))
    val df = createDf(spark, "z boolean, x double, y double",
      rows.map { case (z, x, y) => Seq[Any](z, x, y) })
    val r = Regression.ivWald(df, col("z"), col("x"), col("y")).head()
    assert(r.getLong(0) == 5L && r.getLong(1) == 5L)
    assert(r.getDouble(2) == 1.0, "itt")
    assert(r.getDouble(3) == 0.5, "first stage")
    assert(!r.isNullAt(4) && r.getDouble(4) > 0.0, "first-stage F present")
    assert(r.getDouble(5) == 2.0, "beta_iv = itt / fs")
  }

  test("ivWald: zero first stage nulls beta; constant x nulls F") {
    val rows = Seq((false, 1.0, 1.0), (false, 1.0, 2.0), (true, 1.0, 3.0), (true, 1.0, 4.0))
    val df = createDf(spark, "z boolean, x double, y double",
      rows.map { case (z, x, y) => Seq[Any](z, x, y) })
    val r = Regression.ivWald(df, col("z"), col("x"), col("y")).head()
    assert(r.getDouble(3) == 0.0 && r.isNullAt(4) && r.isNullAt(5))
  }

  test("groupWls: unit weights reproduce OLS; weights re-tilt the fit") {
    val pts = Seq((0.0, 0.0, 1.0), (1.0, 1.0, 1.0), (2.0, 2.0, 1.0), (3.0, 9.0, 0.0))
    val df = createDf(spark, "x double, y double, w double",
        pts.map { case (x, y, w) => Seq[Any](x, y, w) })
      .withColumn("g", lit("x"))
    // the outlier (3,9) carries weight 0 → exact y = x fit; n counts it, w_sum doesn't
    val r = Regression.groupWls(df, Seq("g"), col("x"), col("y"), col("w")).head()
    assert(r.getLong(1) == 4L && r.getDouble(2) == 3.0)
    assert(r.getDouble(3) == 1.0 && r.getDouble(4) == 0.0)
    // negative weights drop the row entirely
    val df2 = createDf(spark, "x double, y double, w double",
        (pts.init :+ ((3.0, 9.0, -1.0))).map { case (x, y, w) => Seq[Any](x, y, w) })
      .withColumn("g", lit("x"))
    val r2 = Regression.groupWls(df2, Seq("g"), col("x"), col("y"), col("w")).head()
    assert(r2.getLong(1) == 3L && r2.getDouble(3) == 1.0)
  }

  test("dagostinoK2: replayed closed form on a skewed sample; symmetric gives z1 = 0") {
    val xs = Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 20.0)
    val df = createDf(spark, "v double", xs.map(v => Seq[Any](v)))
      .withColumn("g", lit("x"))
    val r = Stats.dagostinoK2(df, Seq("g"), col("v")).head()
    assert(r.getLong(1) == 10L)
    assert(math.abs(r.getDouble(2) - 1.606053) < 1e-5, "g1")
    assert(math.abs(r.getDouble(3) - 5.047238) < 1e-5, "b2")
    assert(math.abs(r.getDouble(4) - 2.647142) < 1e-5, "z1")
    assert(math.abs(r.getDouble(5) - 2.397670) < 1e-5, "z2")
    assert(math.abs(r.getDouble(6) - 12.756182) < 1e-4, "k2")
    val sym = createDf(spark, "v double",
        (1 to 10).map(i => Seq[Any](i.toDouble)))
      .withColumn("g", lit("x"))
    val rs = Stats.dagostinoK2(sym, Seq("g"), col("v")).head()
    assert(rs.getDouble(4) == 0.0, "symmetric sample: z1 exactly 0")
    // n < 8: all statistics null — for n in {5,6,7} the Z1 transform's
    // delta is NaN/Inf (beta2(sqrt(b1)) <= 3 => W^2 <= 1), so the r12
    // gate returns null instead of NaN garbage (ADVICE r11)
    for (n <- Seq(4, 5, 6, 7)) {
      val tiny = createDf(spark, "v double",
          (1 to n).map(i => Seq[Any](i.toDouble + (i % 2) * 0.7)))
        .withColumn("g", lit("x"))
      val row = Stats.dagostinoK2(tiny, Seq("g"), col("v")).head()
      for (i <- 2 to 6)
        assert(row.isNullAt(i), s"n=$n col $i must be null under the n>=8 gate")
    }
    // n = 8: every intermediate is finite — k2 must be a real number
    val eight = createDf(spark, "v double",
        Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 20.0).map(v => Seq[Any](v)))
      .withColumn("g", lit("x"))
    val r8 = Stats.dagostinoK2(eight, Seq("g"), col("v")).head()
    assert(!r8.isNullAt(6) && !r8.getDouble(6).isNaN && !r8.getDouble(6).isInfinite)
  }

  test("andersonDarling2: identical samples give 0; disjoint give the 4-point closed form") {
    val same = Seq(("a", 1.0), ("a", 2.0), ("b", 1.0), ("b", 2.0))
    val df = createDf(spark, "side string, v double",
        same.map { case (s, v) => Seq[Any](s, v) })
      .withColumn("g", lit("x"))
    val r = Drift.andersonDarling2(df, Seq("g"),
      col("side") === "a", col("side") === "b", col("v")).head()
    assert(r.getLong(1) == 2L && r.getLong(2) == 2L && r.getDouble(3) == 0.0)
    // a = {1,2}, b = {3,4}: terms 4/3 + 4 + 4/3 = 20/3; A2 = (1)/4 * 20/3 = 5/3
    val disj = Seq(("a", 1.0), ("a", 2.0), ("b", 3.0), ("b", 4.0))
    val df2 = createDf(spark, "side string, v double",
        disj.map { case (s, v) => Seq[Any](s, v) })
      .withColumn("g", lit("x"))
    val r2 = Drift.andersonDarling2(df2, Seq("g"),
      col("side") === "a", col("side") === "b", col("v")).head()
    assert(math.abs(r2.getDouble(3) - 5.0 / 3.0) < 1e-6)
  }

  test("maxDrawdown: hand-checked peak-to-trough with tie-to-latest trough") {
    val inc = Seq((1L, 10.0), (2L, -5.0), (3L, 3.0), (4L, -6.0), (5L, 10.0))
    val df = createDf(spark, "o bigint, v double",
        inc.map { case (o, v) => Seq[Any](o, v) })
      .withColumn("g", lit("x"))
    val r = Timeseries.maxDrawdown(df, Seq("g"), col("o"), col("v")).head()
    // cum: 10 5 8 2 12; peaks: 10 10 10 10 12; dd: 0 5 2 8 0
    assert(r.getLong(1) == 5L)
    assert(r.getDouble(2) == 12.0, "total")
    assert(r.getDouble(3) == 12.0, "peak")
    assert(r.getDouble(4) == 8.0, "max drawdown")
    assert(r.getDouble(5) == 0.8, "dd fraction of the in-force peak (10)")
    assert(r.getLong(6) == 4L, "trough at o=4")
  }

  test("valueAtRisk: exact order statistic and tie-split tail mean") {
    val vals = Seq(1.0, 2.0, -1.0, -2.0, -3.0, 0.5, 0.0, -0.5, 4.0, -4.0)
    val df = createDf(spark, "v double", vals.map(v => Seq[Any](v)))
      .withColumn("g", lit("x"))
    // losses sorted: -4 -2 -1 -.5 0 .5 1 2 3 4; alpha=.8 -> k=8, m=3
    val r = Timeseries.valueAtRisk(df, Seq("g"), col("v"), alphaMicro = 800000L).head()
    assert(r.getLong(1) == 10L && r.getLong(2) == 8L && r.getLong(3) == 3L)
    assert(r.getDouble(4) == 2.0, "VaR = 8th smallest loss")
    assert(r.getDouble(5) == 3.0, "CVaR = mean(2,3,4)")
    // all-tied losses: the boundary splits exactly
    val tied = createDf(spark, "v double", Seq.fill(4)(Seq[Any](-1.0)))
      .withColumn("g", lit("x"))
    val rt = Timeseries.valueAtRisk(tied, Seq("g"), col("v"), alphaMicro = 500000L).head()
    assert(rt.getLong(3) == 3L && rt.getDouble(4) == 1.0 && rt.getDouble(5) == 1.0)
  }

  test("logisticNewton: recovers a positive slope and beats the null likelihood") {
    // y = 1 concentrates at high x
    val rows = Seq((0.0, false), (0.5, false), (1.0, false), (1.5, false),
      (2.0, true), (2.5, false), (3.0, true), (3.5, true), (4.0, true), (4.5, true))
    val df = createDf(spark, "x double, y boolean",
      rows.map { case (x, y) => Seq[Any](x, y) })
    val r = Regression.logisticNewton(df, col("y"), col("x"), iterations = 8).head()
    assert(r.getLong(0) == 10L && r.getLong(1) == 5L)
    assert(r.getDouble(3) > 0.5, "positive slope")
    // null model ll = 10·ln(1/2); the fit must beat it
    assert(r.getDouble(4) > 10.0 * math.log(0.5))
    // balanced symmetric data about x = 0 with y independent of x:
    // one Newton step from b = 0 gives b1 = 0 exactly (g1 = 0 by symmetry)
    val sym = Seq((-1.0, true), (-1.0, false), (1.0, true), (1.0, false))
    val df2 = createDf(spark, "x double, y boolean",
      sym.map { case (x, y) => Seq[Any](x, y) })
    val r2 = Regression.logisticNewton(df2, col("y"), col("x"), iterations = 4).head()
    assert(r2.getDouble(2) == 0.0 && r2.getDouble(3) == 0.0)
    assert(math.abs(r2.getDouble(4) - 4.0 * math.log(0.5)) < 1e-6)
  }

  test("logisticNewton: single-class or constant-x input emits the null row") {
    val oneClass = createDf(spark, "x double, y boolean",
      Seq(Seq[Any](1.0, true), Seq[Any](2.0, true)))
    val r = Regression.logisticNewton(oneClass, col("y"), col("x")).head()
    // all-positive: Newton still steps (det > 0) but never NaNs; coefficients
    // either emitted finite or the degenerate null row — n/n_pos always exact
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L)
    val constX = createDf(spark, "x double, y boolean",
      Seq(Seq[Any](1.0, true), Seq[Any](1.0, false)))
    val r2 = Regression.logisticNewton(constX, col("y"), col("x")).head()
    assert(r2.isNullAt(2) && r2.isNullAt(3), "det = 0: null coefficients")
  }

  test("poissonNewton: exact 2-point fit recovers the log link; flat counts give b1 = 0") {
    // y = exp(x) at x in {0, ln 2}: saturated fit -> b0 = 0, b1 = 1
    val rows = Seq((0.0, 1L), (math.log(2.0), 2L))
    val df = createDf(spark, "x double, y bigint",
      rows.map { case (x, y) => Seq[Any](x, y) })
    val r = Regression.poissonNewton(df, col("y"), col("x"), iterations = 8).head()
    assert(r.getLong(0) == 2L && r.getLong(1) == 3L)
    assert(math.abs(r.getDouble(2)) < 1e-3, "b0 -> 0")
    assert(math.abs(r.getDouble(3) - 1.0) < 1e-3, "b1 -> 1")
    // symmetric x, constant counts: b1 = 0 exactly at every step, b0 = ln(1) = 0
    val sym = Seq((-1.0, 1L), (1.0, 1L), (-1.0, 1L), (1.0, 1L))
    val df2 = createDf(spark, "x double, y bigint",
      sym.map { case (x, y) => Seq[Any](x, y) })
    val r2 = Regression.poissonNewton(df2, col("y"), col("x"), iterations = 4).head()
    assert(r2.getDouble(3) == 0.0 && math.abs(r2.getDouble(2)) < 1e-6)
    assert(math.abs(r2.getDouble(4) - (-4.0)) < 1e-5, "ll = sum(y*0 - 1) = -n")
  }

  test("saxMotifs: alternating square wave yields the ada/dad motif pair") {
    val vals = Seq(0.0, 0.0, 10.0, 10.0, 0.0, 0.0, 10.0, 10.0)
    val df = createDf(spark, "day bigint, v double",
        vals.zipWithIndex.map { case (v, i) => Seq[Any](i.toLong, v) })
      .withColumn("g", lit("x"))
    val out = Timeseries.saxMotifs(df, Seq("g"), col("day"), col("v"),
      segLen = 2L, wordLen = 3).collect()
    // segments: 0, 10, 0, 10 -> symbols a d a d -> words ada, dad
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet ==
      Set(("ada", 1L, 1L), ("dad", 1L, 1L)))
  }

  test("saxMotifs: a gap in the segment grid breaks the word; constant series drops") {
    // days 0,1,2,3 then a hole, then 8,9: segments 0,1,4 -> no contiguous triple
    val rows = Seq((0L, 0.0), (1L, 0.0), (2L, 9.0), (3L, 9.0), (8L, 5.0), (9L, 4.0))
    val df = createDf(spark, "day bigint, v double",
        rows.map { case (d, v) => Seq[Any](d, v) })
      .withColumn("g", lit("x"))
    val out = Timeseries.saxMotifs(df, Seq("g"), col("day"), col("v"),
      segLen = 2L, wordLen = 3).collect()
    assert(out.isEmpty, "gapped grid forms no 3-word")
    val const = createDf(spark, "day bigint, v double",
        (0L to 7L).map(d => Seq[Any](d, 5.0)))
      .withColumn("g", lit("x"))
    assert(Timeseries.saxMotifs(const, Seq("g"), col("day"), col("v"),
      2L, 3).collect().isEmpty, "zero-variance series is excluded entirely")
  }

  test("coxNewton: early-failing arm gets beta > 0, converged score ~ 0, sign flips with x") {
    // x = 1 subjects fail at t = 1..3; x = 0 subjects fail late or are censored
    val rows = Seq((1L, 1L, 1.0), (2L, 1L, 1.0), (3L, 1L, 1.0), (4L, 0L, 1.0),
      (6L, 1L, 0.0), (7L, 1L, 0.0), (8L, 0L, 0.0), (9L, 0L, 0.0))
    val df = createDf(spark, "t bigint, e bigint, x double",
      rows.map { case (t, e, x) => Seq[Any](t, e, x) })
    val r = Survival.coxNewton(df, col("t"), col("e"), col("x"), iterations = 8).head()
    assert(r.getLong(0) == 8L && r.getLong(1) == 5L)
    assert(r.getDouble(2) > 0.5, "early-failure arm has elevated hazard")
    assert(r.getDouble(3) > 1.5, "hazard ratio > 1")
    assert(r.getDouble(5) > 0.0, "positive z")
    assert(math.abs(r.getDouble(6)) < 1e-3, "score residual ~ 0 at convergence")
    // flipping the covariate flips the sign of beta (same magnitude)
    val r2 = Survival.coxNewton(df, col("t"), col("e"), -col("x"), iterations = 8).head()
    assert(math.abs(r2.getDouble(2) + r.getDouble(2)) < 1e-4)
  }

  test("coxNewton: all-censored or constant-x input emits the null row") {
    val cens = createDf(spark, "t bigint, e bigint, x double",
      Seq(Seq[Any](1L, 0L, 1.0), Seq[Any](2L, 0L, 0.0)))
    val r = Survival.coxNewton(cens, col("t"), col("e"), col("x")).head()
    assert(r.getLong(1) == 0L && r.isNullAt(2) && r.isNullAt(5))
    val const = createDf(spark, "t bigint, e bigint, x double",
      Seq(Seq[Any](1L, 1L, 2.0), Seq[Any](2L, 1L, 2.0)))
    val r2 = Survival.coxNewton(const, col("t"), col("e"), col("x")).head()
    assert(r2.isNullAt(2), "constant covariate: information 0 at every event time")
  }

  test("dunnTest (existing op, extra coverage): disjoint levels give the closed-form z") {
    val rows = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 4.0), ("b", 5.0), ("b", 6.0))
    val df = createDf(spark, "l string, v double",
      rows.map { case (l, v) => Seq[Any](l, v) })
    val r = Stats.dunnTest(df, col("l"), col("v")).head()
    assert(r.getString(0) == "a" && r.getString(1) == "b")
    assert(r.getDouble(4) == 2.0 && r.getDouble(5) == 5.0, "pooled mean ranks")
    // var = (6·7/12)·(2/3) = 7/3; z = -3/sqrt(7/3)
    assert(math.abs(r.getDouble(6) - (-3.0 / math.sqrt(7.0 / 3.0))) < 1e-6)
    val three = createDf(spark, "l string, v double",
      (rows ++ Seq(("c", 7.0), ("c", 8.0))).map { case (l, v) => Seq[Any](l, v) })
    assert(Stats.dunnTest(three, col("l"), col("v")).count() == 3L)
  }

  test("gammaOrdinal: perfect concordance 1, discordance -1, independence 0 with ties") {
    def run(pts: Seq[(Long, Long)]) = {
      val df = createDf(spark, "x bigint, y bigint",
        pts.map { case (x, y) => Seq[Any](x, y) })
      Stats.gammaOrdinal(df, col("x"), col("y")).head()
    }
    val con = run(Seq((1L, 1L), (2L, 2L), (3L, 3L)))
    assert(con.getLong(1) == 3L && con.getLong(2) == 0L)
    assert(con.getDouble(5) == 1.0 && con.getDouble(6) == 1.0 && con.getDouble(7) == 1.0)
    val dis = run(Seq((1L, 3L), (2L, 2L), (3L, 1L)))
    assert(dis.getDouble(5) == -1.0)
    val ind = run(Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L)))
    assert(ind.getLong(1) == 1L && ind.getLong(2) == 1L, "C = D = 1")
    assert(ind.getLong(3) == 2L && ind.getLong(4) == 2L, "TX = TY = 2")
    assert(ind.getDouble(5) == 0.0 && ind.getDouble(7) == 0.0)
  }

  test("pChart: binomial limits widen per period; hand-built violations flag exactly") {
    val rows =
      (1 to 100).map(i => (1L, i <= 50)) ++   // p = .5
      (1 to 100).map(i => (2L, i <= 50)) ++   // p = .5
      (1 to 100).map(i => (3L, i <= 95))      // p = .95
    val df = createDf(spark, "t bigint, s boolean",
        rows.map { case (t, s) => Seq[Any](t, s) })
      .withColumn("g", lit("x"))
    val r = Stats.pChart(df, Seq("g"), col("t"), col("s")).head()
    assert(r.getLong(1) == 3L && r.getLong(2) == 300L)
    assert(r.getDouble(3) == 0.65, "pbar = 195/300")
    // half-width = 3·sqrt(.65·.35/100) ≈ .1431 → ucl ≈ .793, lcl ≈ .507
    assert(r.getLong(4) == 1L, "the .95 day breaches the upper limit")
    assert(r.getLong(5) == 2L, "both .5 days sit below the lower limit")
  }

  test("haarEnergy: 1..8 decomposes exactly; energies sum to the centered SS (Parseval)") {
    val df = createDf(spark, "o bigint, v double",
        (1 to 8).map(i => Seq[Any](i.toLong, i.toDouble)))
      .withColumn("g", lit("x"))
    val out = Timeseries.haarEnergy(df, Seq("g"), col("o"), col("v"), levels = 3)
      .orderBy(col("level")).collect()
    assert(out.map(_.getInt(1)).toSeq == Seq(1, 2, 3))
    assert(out.map(_.getLong(2)).toSeq == Seq(4L, 2L, 1L), "pair counts halve")
    assert(out.map(_.getDouble(3)).toSeq == Seq(2.0, 8.0, 32.0))
    // Parseval: level energies sum to Σ(x−x̄)² = 42 for 1..8
    assert(out.map(_.getDouble(3)).sum == 42.0)
    assert(math.abs(out(2).getDouble(4) - 256.0 / 336.0) < 1e-6, "share")
  }

  test("haarEnergy: odd tails drop; shares still sum to 1") {
    val df = createDf(spark, "o bigint, v double",
        (1 to 7).map(i => Seq[Any](i.toLong, (i % 3).toDouble)))
      .withColumn("g", lit("x"))
    val out = Timeseries.haarEnergy(df, Seq("g"), col("o"), col("v"), levels = 2)
      .orderBy(col("level")).collect()
    assert(out(0).getLong(2) == 3L && out(1).getLong(2) == 1L)
    assert(math.abs(out.map(_.getDouble(4)).sum - 1.0) < 1e-5)
  }

  test("transferEntropy: identical series give exactly 0; a copied lag gives positive flow") {
    val xs = Seq(1.0, 3.0, 2.0, 5.0, 4.0, 7.0, 6.0, 9.0, 8.0, 11.0, 10.0, 13.0)
    val same = createDf(spark, "o bigint, a double, b double",
      xs.zipWithIndex.map { case (v, i) => Seq[Any](i.toLong, v, v) })
    val r0 = Timeseries.transferEntropy(same, col("o"), col("a"), col("b")).head()
    assert(r0.getDouble(1) == 0.0, "x = y: knowing x' adds nothing beyond y'")
    // y's move copies x's previous move; x's moves are irregular
    val moves = Seq(1, 1, 0, 1, 0, 0, 1, 0, 1, 1, 0, 1)
    val xv = moves.scanLeft(10.0)((acc, m) => if (m == 1) acc + 1 else acc - 1)
    val yv = 0.0 +: 0.0 +: moves.scanLeft(10.0)((acc, m) =>
      if (m == 1) acc + 1 else acc - 1).dropRight(2)
    val df = createDf(spark, "o bigint, a double, b double",
      xv.zip(yv).zipWithIndex.map { case ((x, y), i) => Seq[Any](i.toLong, x, y) })
    val fwd = Timeseries.transferEntropy(df, col("o"), col("a"), col("b"))
      .head().getDouble(1)
    // 12 points is a small sample; the flow is positive, not huge
    assert(fwd > 0.05, s"copied-lag flow must be positive, got $fwd")
  }

  test("permutationEntropy: monotone series scores 0; two-pattern alternation = ln2/ln6") {
    val mono = createDf(spark, "o bigint, v double",
        (1 to 10).map(i => Seq[Any](i.toLong, i.toDouble)))
      .withColumn("g", lit("x"))
    val r = Timeseries.permutationEntropy(mono, Seq("g"), col("o"), col("v")).head()
    assert(r.getLong(1) == 8L && r.getLong(2) == 1L && r.getDouble(3) == 0.0)
    val alt = createDf(spark, "o bigint, v double",
        Seq(1.0, 5.0, 2.0, 6.0, 3.0, 7.0).zipWithIndex
          .map { case (v, i) => Seq[Any](i.toLong, v) })
      .withColumn("g", lit("x"))
    val r2 = Timeseries.permutationEntropy(alt, Seq("g"), col("o"), col("v")).head()
    assert(r2.getLong(1) == 4L && r2.getLong(2) == 2L)
    assert(math.abs(r2.getDouble(3) - math.log(2.0) / math.log(6.0)) < 1e-6)
  }

  test("entropyRate: deterministic cycle gives H = 0; uniform 2-state chain gives ln 2") {
    // one entity alternating A,B,A,B... -> every row entropy 0
    val cyc = createDf(spark, "user_id bigint, ts bigint, event_id bigint, event_type string",
      (0 until 8).map(i => Seq[Any](1L, i.toLong, i.toLong,
        if (i % 2 == 0) "A" else "B")))
    val r = graft.ops.Funnel.entropyRate(cyc, "user_id", "ts", "event_id",
      "event_type", iterations = 8, tolUnits = 1000L).head()
    assert(r.getLong(0) == 2L)
    assert(r.getDouble(2) == 0.0 && r.getDouble(3) == 1.0)
    // four entities contributing one transition each: AA, AB, BA, BB
    val uni = createDf(spark, "user_id bigint, ts bigint, event_id bigint, event_type string",
      Seq(("A", "A"), ("A", "B"), ("B", "A"), ("B", "B")).zipWithIndex.flatMap {
        case ((f, t), u) => Seq(
          Seq[Any](u.toLong, 0L, 0L, f), Seq[Any](u.toLong, 1L, 1L, t))
      })
    val r2 = graft.ops.Funnel.entropyRate(uni, "user_id", "ts", "event_id",
      "event_type", iterations = 8, tolUnits = 1000L).head()
    assert(math.abs(r2.getDouble(2) - math.log(2.0)) < 1e-6)
    assert(math.abs(r2.getDouble(3) - 2.0) < 1e-5, "perplexity = branching factor 2")
  }

  test("passAtK: hand-checked combinatorics; short tasks excluded and counted") {
    // t1: n=5 c=1; t2: n=5 c=0; t3: n=2 c=2
    val rows = Seq.fill(5)(("t1", false)).updated(0, ("t1", true)) ++
      Seq.fill(5)(("t2", false)) ++ Seq(("t3", true), ("t3", true))
    val df = createDf(spark, "task string, ok boolean",
      rows.map { case (t, s) => Seq[Any](t, s) })
    val out = graft.ops.Calibration.passAtK(df, col("task"), col("ok"), Seq(1, 3, 5))
      .orderBy(col("k")).collect()
    // k=1: (0.2 + 0 + 1)/3 = 0.4 over all 3 tasks
    assert(out(0).getLong(1) == 3L && out(0).getLong(2) == 0L)
    assert(out(0).getDouble(3) == 0.4)
    // k=3: t3 skipped; (1 − 4·3·2/(5·4·3) + 0)/2 = 0.3
    assert(out(1).getLong(1) == 2L && out(1).getLong(2) == 1L)
    assert(math.abs(out(1).getDouble(3) - 0.3) < 1e-6)
    // k=5: t1's product telescopes through 0 -> pass@5 = 1 exactly
    assert(out(2).getLong(1) == 2L && out(2).getLong(2) == 1L)
    assert(out(2).getDouble(3) == 0.5)
  }

  test("bradleyTerry: 3:1 head-to-head converges to theta 0.75/0.25") {
    val rows = Seq.fill(3)(("A", "B")) :+ (("B", "A"))
    val df = createDf(spark, "w string, l string",
      rows.map { case (w, l) => Seq[Any](w, l) })
    val out = Regression.bradleyTerry(df, col("w"), col("l"), iterations = 16)
      .collect()
    assert(out(0).getString(0) == "A" && out(0).getLong(1) == 3L && out(0).getLong(2) == 4L)
    assert(math.abs(out(0).getDouble(3) - 0.75) < 1e-3)
    assert(math.abs(out(1).getDouble(3) - 0.25) < 1e-3)
  }

  test("bradleyTerry: transitive dominance orders the leaderboard; never-winner sinks to 0") {
    // A beats B 4x, B beats C 4x, A beats C 4x; C never wins
    val rows = Seq.fill(4)(("A", "B")) ++ Seq.fill(4)(("B", "C")) ++ Seq.fill(4)(("A", "C"))
    val df = createDf(spark, "w string, l string",
      rows.map { case (w, l) => Seq[Any](w, l) })
    val out = Regression.bradleyTerry(df, col("w"), col("l"), iterations = 16)
      .collect()
    assert(out.map(_.getString(0)).toSeq == Seq("A", "B", "C"))
    assert(out(0).getDouble(3) > out(1).getDouble(3))
    assert(out(2).getDouble(3) < 1e-3, "winless item's strength collapses")
  }

  test("neymanAllocation: spread-heavy strata get the budget; constant strata get none") {
    // stratum a: 4 rows sd 0 (constant); b: 4 rows spread 10; c: 8 rows spread 10
    val rows = Seq.fill(4)(("a", 5.0)) ++
      Seq(("b", 0.0), ("b", 10.0), ("b", 0.0), ("b", 10.0)) ++
      (1 to 8).map(i => ("c", if (i % 2 == 0) 0.0 else 10.0))
    val df = createDf(spark, "s string, v double",
      rows.map { case (s, v) => Seq[Any](s, v) })
    val out = graft.ops.Sampling.neymanAllocation(df, "s", col("v"), budget = 90L)
      .orderBy(col("s")).collect()
    assert(out(0).getLong(4) == 0L, "zero-variance stratum gets quota 0")
    // weights ~ N·S: b = 4·5.7735, c = 8·5.3452 -> c gets more
    assert(out(2).getLong(4) > out(1).getLong(4))
    assert(out.map(_.getLong(4)).sum == 90L, "budget exactly exhausted")
  }

  test("huberLocation: outlier pulls the mean but barely moves the Huber center") {
    val rows = Seq.fill(9)(10.0) :+ 1000.0
    val df = createDf(spark, "v double", rows.map(v => Seq[Any](v)))
      .withColumn("g", lit("x"))
    val r = Stats.huberLocation(df, Seq("g"), col("v"), c = 5.0, sweeps = 8).head()
    assert(r.getLong(1) == 10L)
    assert(r.getDouble(2) == 109.0, "the outlier drags the mean to 109")
    assert(math.abs(r.getDouble(3) - 10.0) < 1.5,
      s"Huber center stays near the bulk, got ${r.getDouble(3)}")
    // clean data: Huber == mean after any number of sweeps
    val clean = createDf(spark, "v double",
        Seq(9.0, 10.0, 11.0).map(v => Seq[Any](v)))
      .withColumn("g", lit("x"))
    val rc = Stats.huberLocation(clean, Seq("g"), col("v"), c = 5.0, sweeps = 4).head()
    assert(rc.getDouble(3) == 10.0 && rc.getDouble(2) == 10.0)
    assert(rc.getDouble(4) == 3.0, "all weights 1 within c")
  }

  test("uncertaintyCoefficient: function of x gives U(y|x)=1; independence gives 0") {
    // y = [x == a]: x fully determines y, y only partially determines x
    val det = Seq(("a", "t"), ("b", "f"), ("c", "f"), ("a", "t"), ("b", "f"), ("c", "f"))
    val df = createDf(spark, "x string, y string",
      det.map { case (x, y) => Seq[Any](x, y) })
    val r = Stats.uncertaintyCoefficient(df, col("x"), col("y")).head()
    assert(r.getLong(0) == 6L)
    assert(math.abs(r.getDouble(4) - 1.0) < 1e-6, "U(y|x) = 1: x determines y")
    assert(r.getDouble(5) < 1.0, "y only narrows x")
    // independent balanced design: MI = 0 -> all Us 0
    val ind = Seq(("a", "t"), ("a", "f"), ("b", "t"), ("b", "f"))
    val df2 = createDf(spark, "x string, y string",
      ind.map { case (x, y) => Seq[Any](x, y) })
    val r2 = Stats.uncertaintyCoefficient(df2, col("x"), col("y")).head()
    assert(r2.getDouble(3) == 0.0 && r2.getDouble(4) == 0.0 && r2.getDouble(6) == 0.0)
  }

  test("kAnonymity: hand-counted k, l, and below-threshold mass") {
    val rows = Seq.fill(3)(("a", 1L, "x")) ++ Seq.fill(3)(("a", 1L, "y")) ++
      Seq(("a", 2L, "x"), ("a", 2L, "x"))
    val df = createDf(spark, "q1 string, q2 bigint, s string",
      rows.map { case (a, b, c) => Seq[Any](a, b, c) })
    val r = graft.ops.Profile.kAnonymity(df, Seq("q1", "q2"), col("s"),
      kThreshold = 5L).head()
    assert(r.getLong(0) == 8L && r.getLong(1) == 2L)
    assert(r.getLong(2) == 2L, "k_min: the (a,2) group has 2 rows")
    assert(r.getLong(3) == 1L, "l_min: the (a,2) group has one sensitive value")
    assert(r.getLong(4) == 1L && r.getLong(5) == 2L)
    assert(r.getDouble(6) == 0.25)
  }

  test("round-11 ops are invariant to input partitioning (integer quantization end-to-end)") {
    val series = createDf(spark, "o bigint, v double",
        (1 to 40).map(i => Seq[Any](i.toLong, (i * 7 % 13).toDouble + i * 0.25)))
      .withColumn("g", lit("x"))
    def collectSorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    def inv(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit =
      assert(collectSorted(f(series)) == collectSorted(f(series.repartition(7))))
    inv(d => Timeseries.maxDrawdown(d, Seq("g"), col("o"), col("v")))
    inv(d => Timeseries.valueAtRisk(d, Seq("g"), col("v"), alphaMicro = 900000L))
    inv(d => Timeseries.haarEnergy(d, Seq("g"), col("o"), col("v"), levels = 3))
    inv(d => Timeseries.permutationEntropy(d, Seq("g"), col("o"), col("v")))
    inv(d => Timeseries.transferEntropy(d, col("o"), col("v"), -col("v")))
    inv(d => Stats.huberLocation(d, Seq("g"), col("v"), c = 3.0, sweeps = 4))
    val cat = createDf(spark, "x bigint, y bigint",
      (1 to 60).map(i => Seq[Any]((i % 5).toLong, (i % 3).toLong)))
    assert(collectSorted(Stats.gammaOrdinal(cat, col("x"), col("y"))) ==
      collectSorted(Stats.gammaOrdinal(cat.repartition(5), col("x"), col("y"))))
    assert(collectSorted(Stats.uncertaintyCoefficient(cat, col("x"), col("y"))) ==
      collectSorted(Stats.uncertaintyCoefficient(cat.repartition(5), col("x"), col("y"))))
  }

  test("closenessCentrality: path graph from one seed; unreachable nodes excluded") {
    val edges = createDf(spark, "src bigint, dst bigint", Seq(
      Seq[Any](1L, 2L), Seq[Any](2L, 3L), Seq[Any](9L, 9L)))
    val seeds = createDf(spark, "node bigint", Seq(Seq[Any](1L)))
    val r = Graph.closenessCentrality(edges, "src", "dst", seeds, "node", 4).head()
    assert(r.getLong(0) == 1L && r.getLong(1) == 3L && r.getLong(2) == 3L)
    assert(r.getDouble(3) == 1.5, "harmonic = 1 + 1/2")
    assert(math.abs(r.getDouble(4) - 2.0 / 3.0) < 1e-6, "closeness = (3-1)/3")
  }
}
