package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testing.TestSpark
import graft.testing.DfAssert.createDf

/** Round-12 hardening: the gammaOrdinal tie-term fix (ADVICE r11 high),
  * the hard bounded-panel guards on bradleyTerry/stationaryDistribution,
  * the frequentSequences null-type fix, and the BFS early exit.
  */
class Round12OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Run `body`, which must raise its contract error, and check that the
    * error left no new persistent RDD behind (new ids rather than the
    * set's size, so ContextCleaner activity cannot flake it).
    */
  private def releasesOnThrow(body: => Any): IllegalArgumentException = {
    val held = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[IllegalArgumentException](body)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- held).isEmpty,
      "the contract error must release the cached panel")
    e
  }

  test("gammaOrdinal: hand-computed asymmetric ties (the ADVICE r11 case)") {
    // cells (1,1),(2,1),(3,2), one observation each:
    //   (1,1)-(2,1): x differs, y equal  -> tied on y ONLY
    //   (1,1)-(3,2): concordant
    //   (2,1)-(3,2): concordant
    // C=2 D=0 T_x_only=0 T_y_only=1
    //   gamma = 2/2 = 1
    //   d_yx  = (C-D)/(C+D+T_y_only) = 2/3   (r11 wrongly returned 1)
    //   tau_b = 2/sqrt(2*3) = 0.816497
    val df = createDf(spark, "x int, y int",
      Seq(Seq[Any](1, 1), Seq[Any](2, 1), Seq[Any](3, 2)))
    val r = Stats.gammaOrdinal(df, col("x"), col("y")).head()
    assert(r.getLong(0) == 3L)
    assert(r.getLong(1) == 2L, "c_pairs")
    assert(r.getLong(2) == 0L, "d_pairs")
    assert(r.getLong(3) == 0L, "tx_pairs = tied on x only")
    assert(r.getLong(4) == 1L, "ty_pairs = tied on y only")
    assert(r.getDouble(5) == 1.0, "gamma")
    assert(math.abs(r.getDouble(6) - 2.0 / 3.0) < 1e-5, "somers_d_yx")
    assert(math.abs(r.getDouble(7) - 2.0 / math.sqrt(6.0)) < 1e-5, "tau_b")
  }

  test("gammaOrdinal: transposed roles move the tie to the other margin") {
    // cells (1,1),(1,2),(2,3): the (1,1)-(1,2) pair is tied on x ONLY,
    // so d_yx's denominator ignores it: d_yx = 2/2 = 1, tau_b unchanged
    // by symmetry of the two cases
    val df = createDf(spark, "x int, y int",
      Seq(Seq[Any](1, 1), Seq[Any](1, 2), Seq[Any](2, 3)))
    val r = Stats.gammaOrdinal(df, col("x"), col("y")).head()
    assert(r.getLong(3) == 1L, "tx_pairs")
    assert(r.getLong(4) == 0L, "ty_pairs")
    assert(r.getDouble(6) == 1.0, "somers_d_yx ignores tied-on-x pairs")
    assert(math.abs(r.getDouble(7) - 2.0 / math.sqrt(6.0)) < 1e-5, "tau_b")
  }

  test("bradleyTerry: panel cap is a contract error, not an OOM") {
    val df = createDf(spark, "w string, l string",
      Seq(Seq[Any]("a", "b"), Seq[Any]("b", "c"), Seq[Any]("c", "a")))
    val e = intercept[IllegalArgumentException] {
      Regression.bradleyTerry(df, col("w"), col("l"), maxItems = 2).collect()
    }
    assert(e.getMessage.contains("distinct items"))
  }

  test("bradleyTerry: tolUnits early-exits and reports the actual sweep count") {
    val df = createDf(spark, "w string, l string",
      (1 to 3).map(_ => Seq[Any]("a", "b")) :+ Seq[Any]("b", "a"))
    val fixed = Regression.bradleyTerry(df, col("w"), col("l"), iterations = 16)
    assert(fixed.select("iters_run").head().getLong(0) == 16L)
    val tol = Regression.bradleyTerry(df, col("w"), col("l"), iterations = 16,
      tolUnits = 1000000L)
    val run = tol.select("iters_run").head().getLong(0)
    assert(run < 16L && run >= 1L, s"expected early exit, ran $run")
    // converged thetas match the fixed-sweep answer at 6 dp
    val a = fixed.orderBy("item").select("theta").collect().map(_.getDouble(0))
    val b = tol.orderBy("item").select("theta").collect().map(_.getDouble(0))
    a.zip(b).foreach { case (x, y) => assert(math.abs(x - y) < 1e-4) }
  }

  test("stationaryDistribution: state cap is a contract error, not an OOM") {
    val rows = Seq(("u", 1L, 1L, "a"), ("u", 2L, 2L, "b"), ("u", 3L, 3L, "c"))
    val df = createDf(spark, "u string, ts bigint, id bigint, et string",
      rows.map { case (u, t, i, e) => Seq[Any](u, t, i, e) })
    val e = releasesOnThrow {
      Funnel.stationaryDistribution(df, "u", "ts", "id", "et",
        iterations = 4, maxStates = 2).collect()
    }
    assert(e.getMessage.contains("distinct states"))
  }

  test("frequentSequences: null types drop from the timeline, never shorten a pattern") {
    // r11 bug: a null mid-window made concat_ws emit 'b>c' from the
    // length-3 window (b, null, c) — a 2-step string counted as a
    // 3-pattern. r12 drops null-type events BEFORE windowing, so the
    // timeline is a,b,c,d and the 3-patterns are exactly a>b>c, b>c>d.
    val rows = Seq(("u", 1L, "a"), ("u", 2L, "b"), ("u", 3L, null),
      ("u", 4L, "c"), ("u", 5L, "d"))
    val df = createDf(spark, "u string, ts bigint, et string",
      rows.map { case (u, t, e) => Seq[Any](u, t, e) })
    val pats = Funnel.frequentSequences(df, "u", "ts", "ts", "et", len = 3)
      .select("pattern").collect().map(_.getString(0)).toSet
    assert(pats == Set("a>b>c", "b>c>d"))
  }

  test("rake: margins hit their targets; contract guards fire") {
    val rows = Seq(("a", "x"), ("a", "x"), ("a", "y"), ("b", "x"))
    val df = createDf(spark, "r string, c string",
      rows.map { case (r, c) => Seq[Any](r, c) })
    val rt = createDf(spark, "r string, t bigint",
      Seq(Seq[Any]("a", 6000000L), Seq[Any]("b", 2000000L)))
    val ct = createDf(spark, "c string, t bigint",
      Seq(Seq[Any]("x", 5000000L), Seq[Any]("y", 3000000L)))
    val out = Survey.rake(df, col("r"), col("c"), lit(1.0), rt, ct,
      iterations = 16, tolUnits = 100L)
    val cells = out.collect().map(r => ((r.getString(0), r.getString(1)),
      r.getLong(4))).toMap
    // row margins: IPF converges to the unique biproportional fit; floor
    // division loses at most a few units per cell per sweep
    val rowA = cells(("a", "x")) + cells(("a", "y"))
    val rowB = cells(("b", "x"))
    assert(math.abs(rowA - 6000000L) < 2000L, s"row a margin: $rowA")
    assert(math.abs(rowB - 2000000L) < 2000L, s"row b margin: $rowB")
    val colX = cells(("a", "x")) + cells(("b", "x"))
    assert(math.abs(colX - 5000000L) < 2000L, s"col x margin: $colX")
    val iters = out.select("iters_run").head().getLong(0)
    assert(iters < 16L && iters >= 1L, s"tol must early-exit, ran $iters")
    // a sample key absent from the targets is a contract error
    val rtBad = createDf(spark, "r string, t bigint", Seq(Seq[Any]("a", 1L)))
    val e = intercept[IllegalArgumentException] {
      Survey.rake(df, col("r"), col("c"), lit(1.0), rtBad, ct, iterations = 2)
    }
    assert(e.getMessage.contains("missing sample row key"))
    val e2 = releasesOnThrow {
      Survey.rake(df, col("r"), col("c"), lit(1.0), rt, ct,
        iterations = 2, maxCells = 2)
    }
    assert(e2.getMessage.contains("occupied cells"))
  }

  test("horvitzThompson: hand-computed two-stratum total and FPC variance") {
    // stratum A: N=4, sample {1, 3} -> mean 2, contrib 8; s2 = 2,
    //   v = 16 * (1 - 2/4) * 2 / 2 = 8
    // stratum B: N=2, sample {5} -> contrib 10, singleton -> v = 0
    // T = 18 (18e6 micros), SE = sqrt(8) = 2.828427
    val samp = createDf(spark, "h string, y double",
      Seq(Seq[Any]("A", 1.0), Seq[Any]("A", 3.0), Seq[Any]("B", 5.0)))
    val pop = createDf(spark, "h string, N bigint",
      Seq(Seq[Any]("A", 4L), Seq[Any]("B", 2L)))
    val r = Survey.horvitzThompson(samp, col("h"), col("y"), pop).head()
    assert(r.getLong(0) == 2L && r.getLong(1) == 6L && r.getLong(2) == 3L)
    assert(r.getLong(3) == 18000000L, "ht_total_micros")
    assert(math.abs(r.getDouble(4) - math.sqrt(8.0)) < 1e-5, "se")
  }

  test("ebShrink: zero within-variance keeps group means; equal means collapse b to 0") {
    val df = createDf(spark, "g string, v double",
      Seq(Seq[Any]("a", 0.0), Seq[Any]("a", 0.0),
        Seq[Any]("b", 2.0), Seq[Any]("b", 2.0)))
    val out = Survey.ebShrink(df, Seq("g"), col("v")).orderBy("g").collect()
    // sigma2 = 0, tau2 > 0 -> b = 1: shrunk == own mean
    assert(out(0).getLong(2) == 0L && out(0).getLong(3) == 0L)
    assert(out(1).getLong(2) == 2000000L && out(1).getLong(3) == 2000000L)
    assert(out(0).getLong(4) == 1000000L, "b = 1 at zero within-variance")
    // equal group means -> tau2 clamps to 0 -> everything at grand mean
    val flat = createDf(spark, "g string, v double",
      Seq(Seq[Any]("a", 1.0), Seq[Any]("a", 3.0),
        Seq[Any]("b", 3.0), Seq[Any]("b", 1.0)))
    val o2 = Survey.ebShrink(flat, Seq("g"), col("v")).orderBy("g").collect()
    assert(o2(0).getLong(4) == 0L && o2(1).getLong(4) == 0L)
    assert(o2(0).getLong(3) == 2000000L && o2(1).getLong(3) == 2000000L)
  }

  test("eccentricity: chain ball radius and the truncation flag") {
    val edges = createDf(spark, "s string, d string",
      Seq(Seq[Any]("a", "b"), Seq[Any]("b", "c")))
    val seeds = createDf(spark, "n string", Seq(Seq[Any]("a")))
    val full = Graph.eccentricity(edges, "s", "d", seeds, "n", maxHops = 4).head()
    assert(full.getLong(1) == 3L && full.getLong(2) == 2L && !full.getBoolean(3))
    val cut = Graph.eccentricity(edges, "s", "d", seeds, "n", maxHops = 2).head()
    assert(cut.getLong(2) == 2L && cut.getBoolean(3), "ecc at the bound flags truncated")
  }

  test("hodgesLehmann: {1,2,10} pseudo-median is 3.75; guard fires on wide domains") {
    // Walsh averages: 1, 1.5, 5.5, 2, 6, 10 -> sorted median = (2+5.5)/2
    val df = createDf(spark, "v double",
      Seq(1.0, 2.0, 10.0).map(v => Seq[Any](v))).withColumn("g", lit("x"))
    val r = Stats.hodgesLehmann(df, Seq("g"), col("v")).head()
    assert(r.getLong(1) == 3L && r.getLong(2) == 6L)
    assert(r.getLong(3) == 15000000L, "4*HL in micros: 4*3.75e6")
    val e = intercept[IllegalArgumentException] {
      Stats.hodgesLehmann(df, Seq("g"), col("v"), maxDistinct = 2L).collect()
    }
    assert(e.getMessage.contains("distinct quantized values"))
  }

  test("hodgesLehmann leaves no cached frame behind, on the guard's throw too") {
    val df = createDf(spark, "v double",
      Seq(1.0, 2.0, 10.0).map(v => Seq[Any](v))).withColumn("g", lit("x"))
    assert(graft.testing.SparkActions.leftPersisted(
      Stats.hodgesLehmann(df, Seq("g"), col("v")).collect()).isEmpty)
    assert(graft.testing.SparkActions.leftPersisted(intercept[IllegalArgumentException](
      Stats.hodgesLehmann(df, Seq("g"), col("v"), maxDistinct = 2L))).isEmpty)
  }

  test("hodgesLehmann: duplicated values weight the diagonal correctly") {
    // {1,1,3}: Walsh avgs = 1 (x3: (1,1),(1,1'),(1',1')), 2 (x2), 3 (x1)
    // sorted: 1,1,1,2,2,3 -> median (1+2)/2 = 1.5 -> quarter 6e6
    val df = createDf(spark, "v double",
      Seq(1.0, 1.0, 3.0).map(v => Seq[Any](v))).withColumn("g", lit("x"))
    val r = Stats.hodgesLehmann(df, Seq("g"), col("v")).head()
    assert(r.getLong(2) == 6L && r.getLong(3) == 6000000L)
  }

  test("brunnerMunzel: the scipy reference example reproduces; separation nulls") {
    val x1 = Seq(1, 2, 1, 1, 1, 1, 1, 1, 1, 1, 2, 4, 1, 1).map(_.toDouble)
    val x2 = Seq(3, 3, 4, 3, 1, 2, 3, 1, 1, 5, 4).map(_.toDouble)
    val rows = x1.map(v => ("a", v)) ++ x2.map(v => ("b", v))
    val df = createDf(spark, "s string, v double",
        rows.map { case (s, v) => Seq[Any](s, v) })
      .withColumn("g", lit("x"))
    val r = Stats.brunnerMunzel(df, Seq("g"),
      col("s") === "a", col("s") === "b", col("v")).head()
    assert(r.getLong(1) == 14L && r.getLong(2) == 11L)
    // scipy.stats.brunnermunzel(x1, x2).statistic = 3.1374674823029505
    assert(math.abs(r.getDouble(4) - 3.137467) < 1e-4, s"bm_t ${r.getDouble(4)}")
    // swapping the samples flips the sign and reflects p_hat
    val rs = Stats.brunnerMunzel(df, Seq("g"),
      col("s") === "b", col("s") === "a", col("v")).head()
    assert(math.abs(rs.getDouble(4) + r.getDouble(4)) < 1e-5)
    assert(math.abs(rs.getDouble(3) + r.getDouble(3) - 1.0) < 1e-5)
    // complete separation: both rank variances 0 -> t/df null, p_hat = 1
    val sep = createDf(spark, "s string, v double",
        Seq(("a", 1.0), ("a", 2.0), ("b", 3.0), ("b", 4.0))
          .map { case (s, v) => Seq[Any](s, v) })
      .withColumn("g", lit("x"))
    val r2 = Stats.brunnerMunzel(sep, Seq("g"),
      col("s") === "a", col("s") === "b", col("v")).head()
    assert(r2.getDouble(3) == 1.0 && r2.isNullAt(4) && r2.isNullAt(5))
  }

  test("linkage emFit: a crisp two-class mixture separates m from u") {
    // 100 pairs agreeing on both fields, 900 agreeing on neither:
    // EM must drive m -> 1-side, u -> 0-side, p -> ~0.1
    val rows = (1 to 100).map(_ => (true, true)) ++
      (1 to 900).map(_ => (false, false))
    val df = createDf(spark, "f1 boolean, f2 boolean",
      rows.map { case (a, b) => Seq[Any](a, b) })
    val out = Linkage.emFit(df, Seq(col("f1"), col("f2")),
        iterations = 20, p0 = 0.2, m0 = Seq(0.8, 0.8), u0 = Seq(0.2, 0.2))
      .orderBy("field").collect()
    assert(out.length == 2)
    for (r <- out) {
      assert(r.getLong(1) > 950000000L, s"m should approach 1: ${r.getLong(1)}")
      assert(r.getLong(2) < 50000000L, s"u should approach 0: ${r.getLong(2)}")
      assert(math.abs(r.getLong(3) - 100000000L) < 10000000L,
        s"p should approach 0.1: ${r.getLong(3)}")
      assert(r.getLong(4) == 1000L)
    }
    // convergence contract: a loose tolerance early-exits
    val tol = Linkage.emFit(df, Seq(col("f1"), col("f2")),
      iterations = 20, p0 = 0.2, m0 = Seq(0.8, 0.8), u0 = Seq(0.2, 0.2),
      tolNano = 1000000L)
    val run = tol.select("iters_run").head().getLong(0)
    assert(run < 20L && run >= 1L, s"expected early exit, ran $run")
  }

  test("sq8Audit: codebook endpoints reconstruct exactly") {
    // only min/max values per dim -> every element is an endpoint of the
    // affine codebook -> zero reconstruction error, cosine preserved at 1
    val df = createDf(spark, "id bigint, v array<float>",
      Seq(Seq[Any](1L, Seq(1.0f, 1.0f)), Seq[Any](2L, Seq(3.0f, 2.0f))))
    val r = graft.text.Similarity.sq8Audit(df, "id", "v").head()
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L)
    assert(r.getLong(2) == 1000000000L, "avg cosine exactly 1")
    assert(r.getLong(3) == 0L && r.getLong(4) == 0L, "zero error at endpoints")
  }

  test("linearCka: self = 1, invariant to permutation and isotropic scale, null on constants") {
    val df = createDf(spark, "id bigint, v array<float>",
      Seq(Seq[Any](1L, Seq(1.0f, 2.0f, 0.5f)), Seq[Any](2L, Seq(3.0f, 0.0f, 1.5f)),
        Seq[Any](3L, Seq(0.0f, 1.0f, 2.5f)), Seq[Any](4L, Seq(2.0f, 2.0f, 0.0f))))
      .withColumn("v", graft.text.Similarity.toDoubleArr(col("v")))
    def cka(b: org.apache.spark.sql.Column): Double =
      graft.text.Similarity.linearCka(df, "id", col("v"), b).head().getDouble(3)
    assert(math.abs(cka(col("v")) - 1.0) < 1e-5, "CKA(X, X) = 1")
    assert(math.abs(cka(reverse(col("v"))) - 1.0) < 1e-5,
      "dim permutation is orthogonal: CKA = 1")
    assert(math.abs(cka(transform(col("v"), x => x * lit(2.5))) - 1.0) < 1e-5,
      "isotropic scaling: CKA = 1")
    val const = graft.text.Similarity.linearCka(df, "id", col("v"),
      transform(col("v"), _ => lit(1.0))).head()
    assert(const.isNullAt(3), "constant representation has zero self-norm -> null")
    // a genuinely different representation scores strictly below 1
    val mixed = cka(slice(col("v"), 1, 1))
    assert(mixed < 0.999 && mixed > 0.0, s"1-dim slice CKA $mixed")
  }

  test("hubnessAudit: hand-built 1-NN graph degrees; panel cap is a contract error") {
    // unit vectors at angles 0, 10, -12, 25, -27 degrees; k = 1 NN edges:
    // 0->10, 10->0, -12->0, 25->10, -27->-12
    // in-degrees: {0: 2, 10: 2, -12: 1, 25: 0, -27: 0}
    val angles = Seq(0.0, 10.0, -12.0, 25.0, -27.0)
    val df = createDf(spark, "id bigint, v array<double>",
      angles.zipWithIndex.map { case (a, i) =>
        val r = math.toRadians(a)
        Seq[Any](i.toLong, Seq(math.cos(r), math.sin(r)))
      })
    val r = graft.text.Similarity.hubnessAudit(df, "id", "v", k = 1).head()
    assert(r.getLong(0) == 5L && r.getLong(1) == 1L)
    assert(r.getLong(2) == 2L, "max in-degree (the hub)")
    assert(r.getLong(3) == 2L, "two antihubs")
    assert(r.getDouble(4) == 0.4, "antihub_pct")
    assert(r.getDouble(5) == 0.0, "degrees (2,2,1,0,0) have zero skew")
    val e = releasesOnThrow {
      graft.text.Similarity.hubnessAudit(df, "id", "v", k = 1, maxVectors = 3L)
    }
    assert(e.getMessage.contains("maxVectors"))
  }

  test("twoNnId: three collinear angles match the closed form; coincident points drop") {
    val angles = Seq(0.0, 6.0, 18.0)
    def vec(a: Double) = { val r = math.toRadians(a); Seq(math.cos(r), math.sin(r)) }
    val df = createDf(spark, "id bigint, v array<double>",
      angles.zipWithIndex.map { case (a, i) => Seq[Any](i.toLong, vec(a)) })
    // per point: mu^2 = (1 - cos(theta_2)) / (1 - cos(theta_1))
    def c(d: Double) = math.cos(math.toRadians(d))
    val sumLn = 0.5 * (math.log((1 - c(18)) / (1 - c(6))) +
      math.log((1 - c(12)) / (1 - c(6))) + math.log((1 - c(18)) / (1 - c(12))))
    val expected = 3.0 / sumLn
    val r = graft.text.Similarity.twoNnId(df, "id", "v").head()
    assert(r.getLong(0) == 3L && r.getLong(1) == 3L)
    assert(math.abs(r.getDouble(2) - expected) < 1e-3,
      s"id_mle ${r.getDouble(2)} vs closed-form $expected")
    // a coincident pair has r1 = 0 -> both points drop from the sum
    val dup = createDf(spark, "id bigint, v array<double>",
      (angles.zipWithIndex.map { case (a, i) => Seq[Any](i.toLong, vec(a)) } :+
        Seq[Any](10L, vec(40.0))) :+ Seq[Any](11L, vec(40.0)))
    val r2 = graft.text.Similarity.twoNnId(dup, "id", "v").head()
    assert(r2.getLong(0) == 5L && r2.getLong(1) == 3L,
      "the two coincident points are discarded")
    val e = releasesOnThrow {
      graft.text.Similarity.twoNnId(df, "id", "v", maxVectors = 2L)
    }
    assert(e.getMessage.contains("maxVectors"))
  }

  test("alignmentUniformity: identical vectors give align 0 / uniform 0; orthogonal give -4") {
    val same = createDf(spark, "id bigint, v array<float>",
      (0L to 3L).map(i => Seq[Any](i, Seq(1.0f, 0.0f))))
    val r = graft.text.Similarity.alignmentUniformity(same, "id", "v", Seq(1L))
      .head()
    assert(r.getLong(1) == 3L && r.getLong(2) == 0L && r.getDouble(3) == 0.0)
    // alternating orthogonal unit vectors: every offset-1 pair has
    // squared distance 2 -> uniform = ln(exp(-4)) = -4
    val alt = createDf(spark, "id bigint, v array<float>",
      (0L to 3L).map(i => Seq[Any](i,
        if (i % 2 == 0) Seq(1.0f, 0.0f) else Seq(0.0f, 1.0f))))
    val r2 = graft.text.Similarity.alignmentUniformity(alt, "id", "v", Seq(1L))
      .head()
    assert(r2.getLong(2) == 2000000L, "align = 2 in micros")
    assert(math.abs(r2.getDouble(3) + 4.0) < 1e-5, s"uniform ${r2.getDouble(3)}")
  }

  test("kuiperGrouped: disjoint samples give V = 1 with the gap on one side") {
    val rows = Seq(("a", 1.0), ("a", 2.0), ("b", 3.0), ("b", 4.0))
    val df = createDf(spark, "s string, v double",
        rows.map { case (s, v) => Seq[Any](s, v) })
      .withColumn("g", lit("x"))
    val r = Drift.kuiperGrouped(df, Seq("g"),
      col("s") === "a", col("s") === "b", col("v")).head()
    assert(r.getLong(1) == 2L && r.getLong(2) == 2L)
    assert(r.getLong(3) == 4L && r.getLong(4) == 0L, "all gap on the D+ side")
    assert(r.getDouble(5) == 1.0)
    // swapping samples moves the gap to D- but V is symmetric
    val rs = Drift.kuiperGrouped(df, Seq("g"),
      col("s") === "b", col("s") === "a", col("v")).head()
    assert(rs.getLong(3) == 0L && rs.getLong(4) == 4L && rs.getDouble(5) == 1.0)
  }

  test("concordanceIndex: hand-computed pairs with and without score ties") {
    val perf = createDf(spark, "t bigint, e bigint, s bigint",
      Seq(Seq[Any](1L, 1L, 3L), Seq[Any](2L, 1L, 2L), Seq[Any](3L, 0L, 1L)))
    val r = Survival.concordanceIndex(perf, col("t"), col("e"), col("s")).head()
    assert(r.getLong(2) == 3L && r.getLong(3) == 3L && r.getLong(4) == 0L)
    assert(r.getLong(5) == 1000000000L, "perfect ordering: C = 1")
    val tied = createDf(spark, "t bigint, e bigint, s bigint",
      Seq(Seq[Any](1L, 1L, 3L), Seq[Any](2L, 1L, 3L), Seq[Any](3L, 0L, 1L)))
    val r2 = Survival.concordanceIndex(tied, col("t"), col("e"), col("s")).head()
    // comparable 3, concordant 2, tied 1 -> C = 2.5/3
    assert(r2.getLong(2) == 3L && r2.getLong(3) == 2L && r2.getLong(4) == 1L)
    assert(r2.getLong(5) == 833333333L)
    val e = releasesOnThrow {
      Survival.concordanceIndex(perf, col("t"), col("e"), col("s"),
        maxGrid = 2L).collect()
    }
    assert(e.getMessage.contains("grid"))
  }

  test("betweenness: chain and diamond dependencies match Brandes by hand") {
    // chain a->b->c->d from seed a: delta(b)=2, delta(c)=1, delta(d)=0
    val chain = createDf(spark, "s string, d string",
      Seq(Seq[Any]("a", "b"), Seq[Any]("b", "c"), Seq[Any]("c", "d")))
    val seeds = createDf(spark, "n string", Seq(Seq[Any]("a")))
    val out = Graph.betweenness(chain, "s", "d", seeds, "n", maxHops = 3)
      .orderBy("node").collect()
      .map(r => (r.getString(0), r.getLong(2))).toMap
    assert(out == Map("b" -> 2000000000L, "c" -> 1000000000L, "d" -> 0L))
    // diamond a->{b,c}->d: two shortest paths to d, each broker gets 1/2
    val diamond = createDf(spark, "s string, d string",
      Seq(Seq[Any]("a", "b"), Seq[Any]("a", "c"),
        Seq[Any]("b", "d"), Seq[Any]("c", "d")))
    val o2 = Graph.betweenness(diamond, "s", "d", seeds, "n", maxHops = 2)
      .orderBy("node").collect()
      .map(r => (r.getString(0), r.getLong(2))).toMap
    assert(o2 == Map("b" -> 500000000L, "c" -> 500000000L, "d" -> 0L))
  }

  test("yuleK: hand-computed repeat rate; uniform text maximizes K") {
    // tokens {a, a, b}: N=3, c = (2,1), sum c^2 = 5
    // K = 1e4*(5-3)/9 = 2222.222222 -> 2222222222 micros (round-half-up)
    val df = createDf(spark, "g string, t string",
      Seq(Seq[Any]("x", "a"), Seq[Any]("x", "a"), Seq[Any]("x", "b")))
    val r = graft.text.TextStats.yuleK(df, Seq("g"), col("t")).head()
    assert(r.getLong(1) == 3L && r.getLong(2) == 2L && r.getLong(3) == 1L)
    assert(r.getLong(4) == 2222222222L)
    // one token repeated n times: K = 1e4*(n^2-n)/n^2 -> 1e4*(1-1/n)
    val rep = createDf(spark, "g string, t string",
      (1 to 10).map(_ => Seq[Any]("x", "w")))
    val r2 = graft.text.TextStats.yuleK(rep, Seq("g"), col("t")).head()
    assert(r2.getLong(4) == 9000000000L, "K = 9000 for a 10x repeat")
  }

  test("burrowsDelta: identical slices are at distance 0; symmetry holds") {
    // C's token stream is identical to A's -> z profiles equal -> delta 0,
    // and delta(A,B) must equal delta(B,C)
    val rows = Seq(
      ("A", Seq("x", "x", "y")), ("B", Seq("x", "y", "y")),
      ("C", Seq("x", "x", "y")))
    val df = createDf(spark, "g string, t string",
      rows.flatMap { case (g, ts) => ts.map(t => Seq[Any](g, t)) })
    val out = graft.text.TextStats.burrowsDelta(df, col("g"), col("t"), topM = 2)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(out(("A", "C")) == 0L, "identical slices at delta 0")
    assert(out(("A", "B")) == out(("B", "C")), "clone symmetry")
    assert(out(("A", "B")) > 0L)
  }

  test("qnScale: hand-computed k-th pairwise difference; guard fires") {
    // {1,2,4,7}: diffs sorted 1,2,3,3,5,6; h=3, k=C(3,2)=3 -> 3rd = 3
    val df = createDf(spark, "v double",
      Seq(1.0, 2.0, 4.0, 7.0).map(v => Seq[Any](v))).withColumn("g", lit("x"))
    val r = Stats.qnScale(df, Seq("g"), col("v")).head()
    assert(r.getLong(1) == 4L && r.getLong(2) == 6L && r.getLong(3) == 3L)
    assert(r.getLong(4) == 3000000L, "Qn raw = 3 in micros")
    val e = intercept[IllegalArgumentException] {
      Stats.qnScale(df, Seq("g"), col("v"), maxDistinct = 2L).collect()
    }
    assert(e.getMessage.contains("distinct quantized values"))
  }

  test("hotellingT2: hand-computed shifted clouds give T2 = 1200, F = 500") {
    val a = Seq((0.0, 0.0), (1.0, 1.0), (0.0, 1.0), (1.0, 0.0))
    val b = a.map { case (x, y) => (x + 10.0, y + 10.0) }
    val rows = a.map { case (x, y) => ("a", x, y) } ++
      b.map { case (x, y) => ("b", x, y) }
    val df = createDf(spark, "s string, x double, y double",
      rows.map { case (s, x, y) => Seq[Any](s, x, y) })
    val r = Stats.hotellingT2(df, col("s") === "a", col("s") === "b",
      col("x"), col("y")).head()
    assert(r.getLong(0) == 4L && r.getLong(1) == 4L)
    assert(r.getLong(2) == -10000000L && r.getLong(3) == -10000000L)
    assert(math.abs(r.getDouble(4) - 1200.0) < 1e-6, s"t2 ${r.getDouble(4)}")
    assert(math.abs(r.getDouble(5) - 500.0) < 1e-6, s"f ${r.getDouble(5)}")
  }

  test("distanceCorrelation: identity gives 1, exact independence gives 0, U-shape fires") {
    val lin = createDf(spark, "x double, y double",
      (1 to 40).map(i => Seq[Any](i.toDouble, i.toDouble)))
    val r = Stats.distanceCorrelation(lin, col("x"), col("y"), buckets = 8).head()
    assert(r.getDouble(5) == 1.0, s"identity dcor ${r.getDouble(5)}")
    // exactly-independent product grid: dCov2 = 0 -> dcor null
    val ind = createDf(spark, "x double, y double",
      (for (i <- 0 to 1; j <- 0 to 1) yield Seq[Any](i.toDouble, j.toDouble)))
    val r2 = Stats.distanceCorrelation(ind, col("x"), col("y"), buckets = 2).head()
    assert(r2.getDouble(2) == 0.0 && r2.isNullAt(5), "independent grid: dcov2 = 0")
    // U-shape: Pearson ~ 0, dCor clearly > 0
    val u = createDf(spark, "x double, y double",
      (-10 to 10).map(i => Seq[Any](i.toDouble, (i * i).toDouble)))
    val r3 = Stats.distanceCorrelation(u, col("x"), col("y"), buckets = 8).head()
    assert(!r3.isNullAt(5) && r3.getDouble(5) > 0.3, s"U-shape dcor ${r3.getDouble(5)}")
    val e = releasesOnThrow {
      Stats.distanceCorrelation(lin.filter(col("x") < 0.0), col("x"), col("y"))
    }
    assert(e.getMessage.contains("at least one row"))
  }

  test("ipwAte: constant per-arm outcomes recover the exact contrast; constant x is degenerate") {
    // y = 9 for treated, 5 for control: the Hajek ratio is exactly the
    // arm constant whatever the propensities, so ATE = 4
    val rows = (1 to 40).map { i =>
      val t = i % 3 == 0
      (t, if (t) 9.0 else 5.0, (i % 7).toDouble)
    }
    val df = createDf(spark, "t boolean, y double, x double",
      rows.map { case (t, y, x) => Seq[Any](t, y, x) })
    val r = Regression.ipwAte(df, col("t"), col("y"), col("x")).head()
    assert(r.getLong(0) == 40L && r.getLong(1) == 13L)
    assert(math.abs(r.getDouble(4) - 9.0) < 1e-5, "mu_treated")
    assert(math.abs(r.getDouble(5) - 5.0) < 1e-5, "mu_control")
    assert(math.abs(r.getDouble(6) - 4.0) < 1e-5, "ate")
    // constant covariate: singular Hessian -> degenerate -> null effects
    val flat = Regression.ipwAte(df, col("t"), col("y"), lit(1.0)).head()
    assert(flat.isNullAt(2) && flat.isNullAt(6))
  }

  test("aipwAte: exact per-arm linear outcomes zero the correction (ate = reg_ate)") {
    // treated: y = 2 + 3x exactly; control: y = 1 + x exactly. Both arm
    // OLS fits are exact, so every residual is 0, the IPW correction
    // vanishes row-by-row, and ATE = mean(1 + 2x) over ALL rows.
    val rows = (1 to 42).map { i =>
      val x = (i % 7).toDouble
      val t = i % 3 == 0
      (t, if (t) 2.0 + 3.0 * x else 1.0 + x, x)
    }
    val df = createDf(spark, "t boolean, y double, x double",
      rows.map { case (t, y, x) => Seq[Any](t, y, x) })
    val r = Regression.aipwAte(df, col("t"), col("y"), col("x")).head()
    val xbar = rows.map(_._3).sum / rows.size
    assert(r.getLong(0) == 42L && r.getLong(1) == 14L)
    assert(math.abs(r.getDouble(4) - (1.0 + 2.0 * xbar)) < 1e-4, "reg_ate")
    assert(math.abs(r.getDouble(5) - (1.0 + 2.0 * xbar)) < 1e-4, "ate")
    assert(math.abs(r.getDouble(5) - r.getDouble(4)) < 1e-4,
      "zero residuals must zero the IPW correction")
    assert(r.getDouble(6) >= 0.0, "se defined")
  }

  test("aipwAte: constant per-arm outcomes recover the exact contrast; constant x degenerates") {
    val rows = (1 to 40).map { i =>
      val t = i % 3 == 0
      (t, if (t) 9.0 else 5.0, (i % 7).toDouble)
    }
    val df = createDf(spark, "t boolean, y double, x double",
      rows.map { case (t, y, x) => Seq[Any](t, y, x) })
    val r = Regression.aipwAte(df, col("t"), col("y"), col("x")).head()
    assert(math.abs(r.getDouble(4) - 4.0) < 1e-5, "reg_ate = 4 exactly")
    assert(math.abs(r.getDouble(5) - 4.0) < 1e-5, "ate = 4 exactly")
    assert(math.abs(r.getDouble(6)) < 1e-5, "zero-variance influence: se = 0")
    val flat = Regression.aipwAte(df, col("t"), col("y"), lit(1.0)).head()
    assert(flat.isNullAt(2) && flat.isNullAt(5), "degenerate propensity nulls effects")
  }

  test("psmAtt: exact-propensity matches recover the hand-computed ATT; caliper drops far pairs") {
    // two covariate strata, both arms present in each: every treated
    // unit finds a zero-distance control, and the match is the min-id
    // control AT its own propensity. y = 10 + x for treated, 3 + x for
    // control => ATT = 7 exactly.
    val rows = (1 to 40).map { i =>
      val x = (i % 2).toDouble // two strata -> two propensity values
      val t = i % 4 == 0
      (i.toLong, t, if (t) 10.0 + x else 3.0 + x, x)
    }
    val df = createDf(spark, "id bigint, t boolean, y double, x double",
      rows.map { case (i, t, y, x) => Seq[Any](i, t, y, x) })
    val r = Regression.psmAtt(df, col("id"), col("t"), col("y"), col("x")).head()
    assert(r.getLong(0) == 40L && r.getLong(1) == 10L)
    assert(r.getLong(2) == 10L, "every treated matches at distance 0")
    assert(math.abs(r.getDouble(5) - 7.0) < 1e-5, "att")
    // a tiny caliper with WELL-SEPARATED propensities: x is informative,
    // so treated/control propensities differ per stratum only through
    // the shared x — distance is 0 within a stratum and matching holds;
    // shrink to caliper 0 still keeps the zero-distance pairs
    val r0 = Regression.psmAtt(df, col("id"), col("t"), col("y"), col("x"),
      caliperMicros = 1L).head()
    assert(r0.getLong(2) == 10L && math.abs(r0.getDouble(5) - 7.0) < 1e-5)
  }

  test("psmAtt: disjoint propensity grids match across a gap; tight caliper drops all") {
    // arms live on DISJOINT x values (controls {0,4}, treated {2,6},
    // non-separable overall), so every match crosses a propensity gap:
    // a full-range caliper matches all 12 treated, a 1-micro caliper
    // matches none
    val rows =
      (1 to 10).map(i => (i.toLong, false, 1.0, 0.0)) ++
      (11 to 20).map(i => (i.toLong, true, 5.0, 2.0)) ++
      (21 to 22).map(i => (i.toLong, false, 1.0, 4.0)) ++
      (23 to 24).map(i => (i.toLong, true, 5.0, 6.0))
    val df = createDf(spark, "id bigint, t boolean, y double, x double",
      rows.map { case (i, t, y, x) => Seq[Any](i, t, y, x) })
    val all = Regression.psmAtt(df, col("id"), col("t"), col("y"), col("x"),
      caliperMicros = 1000000L).head()
    assert(all.getLong(0) == 24L && all.getLong(1) == 12L)
    assert(all.getLong(2) == 12L, "full-range caliper matches every treated")
    assert(math.abs(all.getDouble(5) - 4.0) < 1e-5, "constant-arm outcomes: att = 4")
    val tight = Regression.psmAtt(df, col("id"), col("t"), col("y"), col("x"),
      caliperMicros = 1L).head()
    assert(tight.getLong(2) == 0L, "1-micro caliper drops every cross-gap pair")
    assert(tight.isNullAt(5), "no matches -> null att")
  }

  test("tCloseness: hand-computed TV including an absent category; equal-mix group scores 0") {
    // g1: {a:2, b:2}, g2: {a:4} (b ABSENT). Global: a 6/8, b 2/8.
    //   t_g1 = (|.5-.75| + |.5-.25|)/2 = 0.25
    //   t_g2 = (|1-.75| + |0-.25|)/2  = 0.25  (absent-category fold)
    val df = createDf(spark, "g string, s string",
      Seq(Seq[Any]("g1", "a"), Seq[Any]("g1", "a"),
        Seq[Any]("g1", "b"), Seq[Any]("g1", "b"),
        Seq[Any]("g2", "a"), Seq[Any]("g2", "a"),
        Seq[Any]("g2", "a"), Seq[Any]("g2", "a")))
    val r = Profile.tCloseness(df, Seq("g"), col("s"), tMicros = 200000L).head()
    assert(r.getLong(0) == 8L && r.getLong(1) == 2L)
    assert(r.getDouble(2) == 0.25, "t_max")
    assert(r.getLong(3) == 2L && r.getLong(4) == 8L, "both groups above t = 0.2")
    assert(r.getDouble(5) == 1.0, "pct_above_t")
    // one group = the whole table: its mix IS the global mix -> t = 0
    val one = Profile.tCloseness(df.withColumn("g", lit("all")),
      Seq("g"), col("s"), tMicros = 0L).head()
    assert(one.getDouble(2) == 0.0 && one.getLong(3) == 0L)
  }

  test("shapleyAttribution: hand-computed 2-channel game with a zero-touch converter") {
    // u1: a + convert, u2: a,b + convert, u3: b, u4: convert only, u5: a
    //   v(0)=1 v({a})=2 v({b})=1 v({a,b})=3  (in 2!-units: w = 1 per term)
    //   phi2_a = (2-1) + (3-1) = 3 -> 1.5;  phi2_b = (1-1) + (3-2) = 1 -> 0.5
    //   efficiency: 1.5 + 0.5 = v(N) - v(0) = 2 (zero-touch unattributed)
    val rows = Seq(("u1", "a"), ("u1", "z"), ("u2", "a"), ("u2", "b"),
      ("u2", "z"), ("u3", "b"), ("u4", "z"), ("u5", "a"))
    val df = createDf(spark, "u string, et string",
      rows.map { case (u, e) => Seq[Any](u, e) })
    val out = Funnel.shapleyAttribution(df, "u", "et", Seq("a", "b"), "z")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(("a", 3L, 2L, 3L, 1500000L),
      ("b", 2L, 1L, 1L, 500000L)))
    val e = intercept[IllegalArgumentException] {
      Funnel.shapleyAttribution(df, "u", "et", Seq("a", "z"), "z")
    }
    assert(e.getMessage.contains("conversionType"))
  }

  test("removalEffects: hand-computed absorption drops on a 3-journey chain") {
    // u1: a -> z;  u2: a -> b (null);  u3: b -> z
    //   p(b) = 1/2, p(a) = 3/4, p(start) = 2/3
    //   remove a: p(start) = 1/6;  remove b: p(start) = 1/3
    //   shares: a = 0.6, b = 0.4 exactly
    val rows = Seq(("u1", 1L, "a"), ("u1", 2L, "z"), ("u2", 1L, "a"),
      ("u2", 2L, "b"), ("u3", 1L, "b"), ("u3", 2L, "z"))
    val df = createDf(spark, "u string, ts bigint, et string",
      rows.map { case (u, t, e) => Seq[Any](u, t, e) })
    val out = Funnel.removalEffects(df, "u", "ts", "ts", "et",
      Seq("a", "b"), "z").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(out.toSeq == Seq(
      ("a", 666666666L, 166666666L, 500000000L, 600000L),
      ("b", 666666666L, 333333333L, 333333333L, 400000L)))
    // a channel absent from every journey has zero removal effect
    val out2 = Funnel.removalEffects(df, "u", "ts", "ts", "et",
      Seq("a", "ghost"), "z").collect()
      .map(r => (r.getString(0), r.getLong(3)))
    assert(out2.toSeq == Seq(("a", 500000000L), ("ghost", 0L)))
    val e = intercept[IllegalArgumentException] {
      Funnel.removalEffects(df, "u", "ts", "ts", "et", Seq("start"), "z")
    }
    assert(e.getMessage.contains("reserved"))
    // states start, a, b, z, null: over a cap of 2
    val e2 = releasesOnThrow {
      Funnel.removalEffects(df, "u", "ts", "ts", "et", Seq("a", "b"), "z", maxStates = 2)
    }
    assert(e2.getMessage.contains("distinct states"))
  }

  test("referentialIntegrity: orphan and null-FK counting") {
    val parent = createDf(spark, "pk bigint", Seq(Seq[Any](1L), Seq[Any](2L)))
    val child = createDf(spark, "fk bigint",
      Seq(Seq[Any](1L), Seq[Any](2L), Seq[Any](2L), Seq[Any](3L),
        Seq[Any](null)))
    val r = Expectations.referentialIntegrity(child, Seq("fk"),
      parent, Seq("pk"), "child->parent").head()
    assert(r.getString(0) == "child->parent")
    assert(r.getLong(1) == 5L && r.getLong(2) == 1L && r.getLong(3) == 1L)
    assert(r.getDouble(4) == 0.2, "orphan_pct = 1/5")
  }

  test("twoWayFixedEffects: recovers beta under entity and time effects; absorbed x nulls") {
    // y = 3x + alpha_i + gamma_t exactly: within estimator must recover
    // beta = 3 with zero residual (se = 0)
    val rows = for (i <- 1 to 5; t <- 1 to 4) yield {
      val x = ((i * 3 + t * 7) % 5).toDouble
      (i.toLong, t.toLong, 3.0 * x + 10.0 * i + 100.0 * t, x)
    }
    val df = createDf(spark, "i bigint, t bigint, y double, x double",
      rows.map { case (i, t, y, x) => Seq[Any](i, t, y, x) })
    val r = Regression.twoWayFixedEffects(df, col("i"), col("t"),
      col("y"), col("x")).head()
    assert(r.getLong(0) == 20L && r.getLong(1) == 5L && r.getLong(2) == 4L)
    assert(math.abs(r.getDouble(3) - 3.0) < 1e-5, "beta")
    assert(math.abs(r.getDouble(4)) < 1e-4, "exact model: se ~ 0")
    // x that IS an entity effect (constant within entity): no within
    // variation after absorption -> null beta
    val flat = Regression.twoWayFixedEffects(df, col("i"), col("t"),
      col("y"), col("i").cast("double")).head()
    assert(flat.isNullAt(3) && flat.isNullAt(4))
  }

  test("ransacLine: consensus line ignores outliers that wreck OLS") {
    // 40 points on y = 2x + 1 exactly, 5 wild outliers
    val inl = (1 to 40).map(i => (i.toLong, (i % 10).toDouble,
      2.0 * (i % 10) + 1.0))
    val out = (41 to 45).map(i => (i.toLong, (i % 10).toDouble, 500.0 + i))
    val df = createDf(spark, "id bigint, x double, y double",
      (inl ++ out).map { case (i, x, y) => Seq[Any](i, x, y) })
    val r = Regression.ransacLine(df, col("id"), col("x"), col("y"),
      candidates = 16, epsMicros = 100000L).head()
    assert(r.getLong(0) == 45L)
    assert(r.getLong(3) == 40L, "all 40 true inliers captured")
    assert(math.abs(r.getDouble(4) - 1.0) < 1e-5, "refit intercept")
    assert(math.abs(r.getDouble(5) - 2.0) < 1e-5, "refit slope")
    // degenerate: all x equal -> every candidate pair invalid -> 0 rows
    val deg = createDf(spark, "id bigint, x double, y double",
      (1 to 10).map(i => Seq[Any](i.toLong, 1.0, i.toDouble)))
    assert(Regression.ransacLine(deg, col("id"), col("x"), col("y")).count() == 0L)
  }

  test("gstMonitor: O'Brien-Fleming boundary shape, crossing under effect, gated flat null") {
    import org.apache.spark.sql.functions.{to_timestamp => tts}
    def mk(rows: Seq[(Long, String, Double)]) =
      createDf(spark, "u bigint, ts string, v double",
          rows.map { case (u, t, v) => Seq[Any](u, t, v) })
        .withColumn("ts", tts(col("ts")))
    val eff = mk(for (day <- 1 to 10; i <- 1 to 8; arm <- Seq(0L, 1L)) yield
      (arm + 2 * i, f"2024-01-$day%02d 12:00:00",
        (if (arm == 0L) 10.0 else 0.0) + (i % 3) * 0.5))
    val out = Stats.gstMonitor(eff, col("u") % 2 === 0, col("u") % 2 === 1,
      col("ts"), col("v"), plannedLooks = 5).collect()
    assert(out.map(_.getLong(0)).toSeq == (1L to 5L), "five looks")
    val bounds = out.map(_.getDouble(5))
    assert(bounds.zip(bounds.tail).forall { case (a, b) => b < a },
      "OBF boundary must shrink across looks")
    assert(math.abs(bounds.last - 2.04) < 1e-9, "final look = the fixed-horizon-ish 2.04")
    assert(math.abs(bounds.head - 2.04 * math.sqrt(5.0)) < 1e-6)
    assert(out.last.getLong(6) == 1L && math.abs(out.last.getDouble(4)) > bounds.last,
      "a 10-vs-0 effect must cross by the final look")
    // flat null with zero variance: z gated null, never crossed
    val flat = mk(for (day <- 1 to 5; i <- 1 to 4; arm <- Seq(0L, 1L)) yield
      (arm + 2 * i, f"2024-01-$day%02d 12:00:00", 7.0))
    val o2 = Stats.gstMonitor(flat, col("u") % 2 === 0, col("u") % 2 === 1,
      col("ts"), col("v"), plannedLooks = 5).collect()
    assert(o2.forall(r => r.isNullAt(4) && r.getLong(6) == 0L))
    val e = intercept[IllegalArgumentException] {
      Stats.gstMonitor(eff, col("u") % 2 === 0, col("u") % 2 === 1,
        col("ts"), col("v"), plannedLooks = 11)
    }
    assert(e.getMessage.contains("plannedLooks"))
  }

  test("aalenJohansen: hand-computed two-cause incidence; single cause = 1 - KM") {
    // subjects: (t=1, cause 1), (t=1, cause 2), (t=2, censored), (t=3, cause 1)
    //   CIF_1(1) = 1/4, CIF_2(1) = 1/4, CIF_1(3) = 1/4 + S(2)·(1/1) = 3/4
    val df = createDf(spark, "t bigint, c bigint",
      Seq(Seq[Any](1L, 1L), Seq[Any](1L, 2L), Seq[Any](2L, 0L), Seq[Any](3L, 1L)))
    val out = Survival.aalenJohansen(df, col("t"), col("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    assert(out.toSeq == Seq((1L, 1L, 4L, 1L, 0.25), (1L, 2L, 4L, 1L, 0.25),
      (3L, 1L, 1L, 1L, 0.75)))
    // with a single cause, CIF_1(t) must equal 1 - KM survival at event times
    val one = createDf(spark, "t bigint, c bigint",
      Seq(Seq[Any](1L, 1L), Seq[Any](2L, 1L), Seq[Any](2L, 0L),
        Seq[Any](4L, 1L), Seq[Any](5L, 0L)))
    val cif = Survival.aalenJohansen(one, col("t"), col("c"))
      .collect().map(r => (r.getLong(0), r.getDouble(4))).toMap
    val km = Survival.kaplanMeier(one, col("t"), (col("c") > 0L).cast("long"))
      .collect().map(r => (r.getLong(0), r.getDouble(4))).toMap
    cif.foreach { case (t, v) =>
      assert(math.abs(v - (1.0 - km(t))) < 1e-6, s"t=$t cif=$v km=${km(t)}") }
  }

  test("msprt: p_always is monotone and collapses under a real effect; flat null stays 1") {
    import org.apache.spark.sql.functions.{to_timestamp => tts}
    def mk(rows: Seq[(Long, String, Double)]) =
      createDf(spark, "u bigint, ts string, v double",
          rows.map { case (u, t, v) => Seq[Any](u, t, v) })
        .withColumn("ts", tts(col("ts")))
    // 10 days, 8 obs/day/arm, arm a = 10 + jitter, arm b = 0 + jitter
    val eff = mk(for (day <- 1 to 10; i <- 1 to 8; arm <- Seq(0L, 1L)) yield
      (arm + 2 * i, f"2024-01-$day%02d 12:00:00",
        (if (arm == 0L) 10.0 else 0.0) + (i % 3) * 0.5))
    val out = Stats.msprt(eff, col("u") % 2 === 0, col("u") % 2 === 1,
        col("ts"), col("v"), tauSq = 25.0)
      .orderBy("day").collect()
    val ps = out.map(_.getDouble(5))
    assert(ps.zip(ps.tail).forall { case (a, b) => b <= a + 1e-9 },
      "p_always must be non-increasing")
    assert(ps.last < 0.01, s"clear effect must collapse p, got ${ps.last}")
    assert(out.last.getLong(3) == 10000000L, "delta = 10 in micros")
    // zero within-arm variance AND zero effect: v = 0 -> gated, p stays 1
    val flat = mk(for (day <- 1 to 5; i <- 1 to 4; arm <- Seq(0L, 1L)) yield
      (arm + 2 * i, f"2024-01-$day%02d 12:00:00", 7.0))
    val o2 = Stats.msprt(flat, col("u") % 2 === 0, col("u") % 2 === 1,
        col("ts"), col("v"), tauSq = 25.0)
      .orderBy("day").collect()
    assert(o2.forall(_.getDouble(5) == 1.0))
  }

  test("bfsDistances: early exit leaves the fixpoint intact on a short chain") {
    val edges = createDf(spark, "s string, d string",
      Seq(Seq[Any]("a", "b"), Seq[Any]("b", "c")))
    val seeds = createDf(spark, "n string", Seq(Seq[Any]("a")))
    // maxHops far beyond the diameter: the r12 early exit must stop at
    // the empty frontier without changing the result
    val out = Graph.bfsDistances(edges, "s", "d", seeds, "n", maxHops = 16)
      .orderBy("node").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq == Seq(("a", 0L), ("b", 1L), ("c", 2L)))
  }

  test("round-12 ops are invariant to input partitioning (integer quantization end-to-end)") {
    def collectSorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val series = createDf(spark, "o bigint, v double",
        (1 to 60).map(i => Seq[Any](i.toLong, (i * 7 % 13).toDouble + i * 0.25)))
      .withColumn("g", lit("x"))
    def inv(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit =
      assert(collectSorted(f(series)) == collectSorted(f(series.repartition(7))))
    inv(d => Stats.hodgesLehmann(d, Seq("g"), col("v")))
    inv(d => Stats.qnScale(d, Seq("g"), col("v")))
    inv(d => Stats.distanceCorrelation(d, col("o").cast("double"), col("v"), buckets = 8))
    inv(d => Stats.hotellingT2(d, col("o") % 2 === 0, col("o") % 2 === 1,
      col("v"), col("o").cast("double")))
    inv(d => Stats.brunnerMunzel(d, Seq("g"),
      col("o") % 2 === 0, col("o") % 2 === 1, col("v")))
    inv(d => Drift.kuiperGrouped(d, Seq("g"),
      col("o") % 2 === 0, col("o") % 2 === 1, col("v")))
    inv(d => Regression.ipwAte(d, col("o") % 3 === 0, col("v"),
      (col("o") % 7).cast("double")))
    inv(d => Regression.aipwAte(d, col("o") % 3 === 0, col("v"),
      (col("o") % 7).cast("double")))
    inv(d => Regression.psmAtt(d, col("o"), col("o") % 3 === 0, col("v"),
      (col("o") % 7).cast("double")))
    inv(d => Profile.tCloseness(d.withColumn("q", col("o") % 4)
      .withColumn("s", (col("o") % 3).cast("string")), Seq("q"), col("s")))
    inv(d => Stats.gstMonitor(d.withColumn("ts",
        to_timestamp(concat(lit("2024-01-"),
          lpad(((col("o") % 9) + 1).cast("string"), 2, "0"), lit(" 08:00:00")))),
      col("o") % 2 === 0, col("o") % 2 === 1, col("ts"), col("v"),
      plannedLooks = 3))
    inv(d => Survival.aalenJohansen(d.withColumn("t", col("o") % 6),
      col("t"), col("o") % 3))
    // vector ops: same fixture through 1 vs 7 partitions
    val vecs = createDf(spark, "id bigint, v array<double>",
      (1 to 24).map(i => Seq[Any](i.toLong,
        Seq((i % 5).toDouble, (i % 7).toDouble, (i * 3 % 11).toDouble))))
    def vinv(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit =
      assert(collectSorted(f(vecs)) == collectSorted(f(vecs.repartition(7))))
    vinv(d => graft.text.Similarity.linearCka(d, "id", col("v"),
      slice(col("v"), 1, 2)))
    vinv(d => graft.text.Similarity.hubnessAudit(d, "id", "v", k = 3))
    vinv(d => graft.text.Similarity.twoNnId(d, "id", "v"))
    inv(d => Stats.msprt(d.withColumn("ts",
        to_timestamp(concat(lit("2024-01-"),
          lpad(((col("o") % 9) + 1).cast("string"), 2, "0"), lit(" 08:00:00")))),
      col("o") % 2 === 0, col("o") % 2 === 1, col("ts"), col("v"), tauSq = 25.0))
    inv(d => Survey.ebShrink(d.withColumn("b", col("o") % 5), Seq("b"), col("v")))
    inv(d => Survival.concordanceIndex(d.withColumn("e", (col("o") % 3 === 0).cast("long")),
      col("o") % 10, col("e"), (col("v") * 4).cast("long")))
    // driver-panel ops: same fixture through 1 vs 7 partitions
    val duels = createDf(spark, "w string, l string",
      (1 to 30).map(i => Seq[Any](s"p${i % 4}", s"p${(i + 1) % 4}")))
      .filter(col("w") =!= col("l"))
    assert(collectSorted(Regression.bradleyTerry(duels, col("w"), col("l"), 8)) ==
      collectSorted(Regression.bradleyTerry(duels.repartition(7), col("w"), col("l"), 8)))
    val pairs = createDf(spark, "f1 boolean, f2 boolean",
      (1 to 50).map(i => Seq[Any](i % 3 == 0, i % 2 == 0)))
    assert(collectSorted(Linkage.emFit(pairs, Seq(col("f1"), col("f2")),
        5, 0.2, Seq(0.8, 0.8), Seq(0.2, 0.2))) ==
      collectSorted(Linkage.emFit(pairs.repartition(7), Seq(col("f1"), col("f2")),
        5, 0.2, Seq(0.8, 0.8), Seq(0.2, 0.2))))
    val samp = createDf(spark, "r string, c string",
      (1 to 40).map(i => Seq[Any](s"r${i % 3}", s"c${i % 4}")))
    val rt = createDf(spark, "r string, t bigint",
      (0 to 2).map(i => Seq[Any](s"r$i", 20000000L)))
    val ct = createDf(spark, "c string, t bigint",
      (0 to 3).map(i => Seq[Any](s"c$i", 15000000L)))
    assert(collectSorted(Survey.rake(samp, col("r"), col("c"), lit(1.0), rt, ct, 6)) ==
      collectSorted(Survey.rake(samp.repartition(7), col("r"), col("c"),
        lit(1.0), rt, ct, 6)))
  }

  test("closenessCentrality: early exit matches the hand-computed star") {
    // star s -> {a,b,c}: n_reached 4, sum_dist 3, harmonic 3, closeness 1
    val edges = createDf(spark, "s string, d string",
      Seq(Seq[Any]("s", "a"), Seq[Any]("s", "b"), Seq[Any]("s", "c")))
    val seeds = createDf(spark, "n string", Seq(Seq[Any]("s")))
    val r = Graph.closenessCentrality(edges, "s", "d", seeds, "n", maxHops = 16)
      .head()
    assert(r.getLong(1) == 4L && r.getLong(2) == 3L)
    assert(r.getDouble(3) == 3.0 && r.getDouble(4) == 1.0)
  }
}
