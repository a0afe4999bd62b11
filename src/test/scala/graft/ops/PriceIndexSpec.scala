package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testing.TestSpark
import graft.testing.DfAssert.createDf

class PriceIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // two items, two periods; item prices double/halve with fixed quantities
  private def tx = createDf(spark, "item int, pd string, exp double, qty double", Seq(
    Seq[Any](1, "p0", 10.0, 10.0), // p=1
    Seq[Any](2, "p0", 40.0, 10.0), // p=4
    Seq[Any](1, "p1", 20.0, 10.0), // p=2 (doubled)
    Seq[Any](2, "p1", 20.0, 10.0), // p=2 (halved)
  ))

  private def run = PriceIndex.bilateralIndexes(tx, "item", col("pd"), "exp", "qty", "p0")
    .collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap

  test("hand-checked Laspeyres/Paasche/Fisher; base period is exactly 1") {
    val r = run
    assert(r("p0") == ((2L, 1.0, 1.0, 1.0)))
    // L = (2*10 + 2*10) / (1*10 + 4*10) = 40/50 = 0.8
    // equal quantities both periods → Paasche = Laspeyres here
    val (n, l, p, f) = r("p1")
    assert(n == 2L && l == 0.8 && p == 0.8)
    assert(math.abs(f - 0.8) < 1e-9) // sqrt(0.8 * 0.8)
  }

  test("elementary formulas: hand-checked Carli/Dutot/Jevons and the AM>=GM bias") {
    val r = PriceIndex.elementaryIndexes(tx, "item", col("pd"), "exp", "qty", "p0")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(r("p0") == ((2L, 1.0, 1.0, 1.0)))
    val (n, carli, dutot, jevons) = r("p1")
    // relatives: item1 2/1 = 2, item2 2/4 = 0.5
    assert(n == 2L && carli == 1.25)            // (2 + 0.5) / 2
    assert(dutot == 0.8)                        // (2+2)/(1+4)
    assert(math.abs(jevons - 1.0) < 1e-6)       // sqrt(2 · 0.5) = 1
    assert(carli >= jevons)                     // Carli's AM >= GM upward bias
  }

  test("NULL item keys never enter the matched sample (the inner-join semantics, ADVICE r14)") {
    // a null-keyed row WITH a base-period price must not ride the
    // base-attachment window into the index aggregates: the original
    // aggregate-filter-join spelling dropped null keys (inner join),
    // and the window spelling must match it
    val withNull = createDf(spark, "item int, pd string, exp double, qty double", Seq(
      Seq[Any](1, "p0", 10.0, 10.0),
      Seq[Any](1, "p1", 20.0, 10.0),
      Seq[Any](null, "p0", 99.0, 1.0),
      Seq[Any](null, "p1", 77.0, 1.0),
    ))
    val r = PriceIndex.bilateralIndexes(withNull, "item", col("pd"), "exp", "qty", "p0")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(r == Map("p0" -> 1L, "p1" -> 1L)) // only item 1; the null group is gone
    val e = PriceIndex.elementaryIndexes(withNull, "item", col("pd"), "exp", "qty", "p0")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(e == Map("p0" -> 1L, "p1" -> 1L))
    val ly = PriceIndex.loweYoung(withNull, "item", col("pd"), "exp", "qty", "p0", "p0")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ly == Map("p0" -> 1L, "p1" -> 1L))
  }

  test("attachRefs two-reference panel equals the chained single-reference attachments") {
    // loweYoung with weightPeriod == basePeriod must agree with a
    // Laspeyres/Young built from the same matched sample — and the
    // two-reference window pass must keep items that appear in BOTH
    // reference periods only
    val missingBase = createDf(spark, "item int, pd string, exp double, qty double", Seq(
      Seq[Any](1, "p0", 10.0, 10.0), Seq[Any](1, "p1", 20.0, 10.0),
      Seq[Any](2, "p1", 40.0, 10.0), // absent from p0: must drop
      Seq[Any](3, "p0", 30.0, 10.0), Seq[Any](3, "p1", 30.0, 10.0),
    ))
    val out = PriceIndex.loweYoung(missingBase, "item", col("pd"), "exp", "qty", "p0", "p0")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    // matched items {1, 3}; Lowe with q from p0: (2*10 + 3*10)/(1*10 + 3*10) = 1.25
    assert(out.toSeq == Seq(("p0", 2L, 1.0), ("p1", 2L, 1.25)))
  }

  test("matched-sample: an item absent from the base period never enters") {
    val withNew = createDf(spark, "item int, pd string, exp double, qty double",
      Seq(Seq[Any](3, "p1", 1000.0, 1.0))) // item 3 trades only in p1
    val r = PriceIndex.bilateralIndexes(tx.union(withNew), "item", col("pd"),
        "exp", "qty", "p0")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(r("p1")._1 == 2L && r("p1")._2 == 0.8) // unchanged by the unmatched item
  }

  test("chainedIndex: links multiply into the chain; basket refreshes each period") {
    val d = createDf(spark, "item int, pd date, exp double, qty double", Seq(
      Seq[Any](1, java.sql.Date.valueOf("2020-01-01"), 10.0, 10.0), // p=1
      Seq[Any](1, java.sql.Date.valueOf("2020-02-01"), 20.0, 10.0), // p=2: link 2.0
      Seq[Any](1, java.sql.Date.valueOf("2020-03-01"), 30.0, 10.0), // p=3: link 1.5
      Seq[Any](2, java.sql.Date.valueOf("2020-03-01"), 5.0, 5.0),   // enters late:
      Seq[Any](2, java.sql.Date.valueOf("2020-04-01"), 10.0, 5.0),  // in the Apr link only
    ))
    val r = PriceIndex.chainedIndex(d, "item", col("pd"), "exp", "qty")
      .collect().map(r => r.getDate(0).toString ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(r("2020-02-01") == ((1L, 2.0, 2.0)))
    assert(r("2020-03-01") == ((1L, 1.5, 3.0)))   // chain = 2.0 * 1.5
    // April: item 1 absent, item 2 doubled → link 2.0 on the REFRESHED basket
    val (n4, l4, c4) = r("2020-04-01")
    assert(n4 == 1L && l4 == 2.0 && math.abs(c4 - 6.0) < 1e-5)
    // January has no preceding month → no link row
    assert(!r.contains("2020-01-01") && r.size == 3)
  }

  test("cleansedJevons drops fence-breaking relatives; clean data is untouched") {
    // 5 tame relatives (all 1.0) + one 100x spike: the spike breaks the
    // fences and only the cleansed index ignores it
    val rows = (1 to 5).map(i => Seq[Any](i, "p0", 10.0, 10.0)) ++
      (1 to 5).map(i => Seq[Any](i, "p1", 10.0, 10.0)) ++
      Seq(Seq[Any](6, "p0", 10.0, 10.0), Seq[Any](6, "p1", 1000.0, 10.0))
    val d = createDf(spark, "item int, pd string, exp double, qty double", rows)
    val r = PriceIndex.cleansedJevons(d, "item", col("pd"), "exp", "qty", "p0")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    val (n, kept, raw, cleansed) = r("p1")
    assert(n == 6L && kept == 5L)
    assert(cleansed == 1.0)            // the five tame relatives exactly
    assert(raw > 1.5)                  // the spike drags the raw geomean up
    // a period with no outliers keeps everything and both indexes agree
    assert(r("p0") == ((6L, 6L, 1.0, 1.0)))
  }

  test("imputedIndex holds the base basket and carries missing prices forward") {
    val d = createDf(spark, "item int, pd string, exp double, qty double", Seq(
      Seq[Any](1, "p0", 10.0, 10.0),  // p=1
      Seq[Any](2, "p0", 20.0, 10.0),  // p=2
      Seq[Any](1, "p1", 40.0, 10.0),  // p=4; item 2 uncollected in p1
      Seq[Any](1, "p2", 10.0, 10.0),  // p=1
      Seq[Any](2, "p2", 60.0, 10.0),  // p=6; item 2 returns
      Seq[Any](3, "p1", 99.0, 1.0),   // enters after base: never in the basket
    ))
    val r = PriceIndex.imputedIndex(d, "item", col("pd"), "exp", "qty", "p0")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(r("p0") == ((2L, 0L, 1.0)))
    // p1: item 2 imputed at its base price 2 → L = (4·10 + 2·10)/(1·10 + 2·10) = 2.0
    assert(r("p1") == ((2L, 1L, 2.0)))
    // p2: both observed → L = (1·10 + 6·10)/30
    val (n2, imp2, l2) = r("p2")
    assert(n2 == 2L && imp2 == 0L && math.abs(l2 - 70.0 / 30.0) < 1e-5)
  }

  test("superlative indexes: hand-checked Törnqvist and Walsh, between L and P") {
    val r = PriceIndex.superlativeIndexes(tx, "item", col("pd"), "exp", "qty", "p0")
      .collect().map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(r("p0") == ((1.0, 1.0)))
    val (t, w) = r("p1")
    // equal expenditures in p1 (20, 20); base shares (10/50, 40/50):
    // s̄(item1) = (0.2 + 0.5)/2 = 0.35, s̄(item2) = (0.8 + 0.5)/2 = 0.65
    // Törnqvist = exp(0.35·ln2 + 0.65·ln0.5) = 2^(0.35-0.65) = 2^-0.3
    assert(math.abs(t - math.pow(2.0, -0.3)) < 1e-5)
    // equal quantities → Walsh = Laspeyres = 0.8
    assert(w == 0.8)
    // both lie between Paasche (0.8) and Laspeyres (0.8)... here L = P, and
    // the superlative property pins them to the same value for Walsh and
    // near it for Törnqvist
    assert(t > 0.7 && t < 0.9)
  }

  test("textbook index laws on seeded random panels: mean bounds and Fisher identity") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 2) {
      val rows = for { i <- 1 to 8; pd <- Seq("p0", "p1", "p2") } yield
        Seq[Any](i, pd, (100 + rnd.nextInt(200000)) / 100.0, (1 + rnd.nextInt(50)).toDouble)
      val d = createDf(spark, "item int, pd string, exp double, qty double", rows)
      // model relatives directly (one row per item-period → unit value = exp/qty)
      val panel = rows.groupBy(r => (r(0), r(1))).map { case ((i, pd), rs) =>
        (i, pd) -> rs.head(2).asInstanceOf[Double] / rs.head(3).asInstanceOf[Double] }
      def relBounds(pd: String): (Double, Double) = {
        val rels = (1 to 8).map(i => panel((i, pd)) / panel((i, "p0")))
        (rels.min, rels.max)
      }
      val bil = PriceIndex.bilateralIndexes(d, "item", col("pd"), "exp", "qty", "p0")
        .collect().map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
      val sup = PriceIndex.superlativeIndexes(d, "item", col("pd"), "exp", "qty", "p0")
        .collect().map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
      val el = PriceIndex.elementaryIndexes(d, "item", col("pd"), "exp", "qty", "p0")
        .collect().map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
      for (pd <- Seq("p1", "p2")) {
        val (lo, hi) = relBounds(pd)
        val (l, p, f) = bil(pd); val (t, w) = sup(pd); val (carli, dutot, jevons) = el(pd)
        val eps = 1e-4
        // every weighted-mean-of-relatives index lies inside the relative range
        for (x <- Seq(l, p, t, w, carli, dutot, jevons))
          assert(x >= lo - eps && x <= hi + eps, s"$pd: $x outside [$lo, $hi]")
        // Fisher is the geometric mean of L and P, by construction
        assert(math.abs(f - math.sqrt(l * p)) < 1e-4, s"$pd: F $f vs sqrt(LP)")
        // Carli dominates Jevons (AM >= GM)
        assert(carli >= jevons - eps)
      }
    }
  }

  test("Laspeyres decomposition: the weighted mean of sub-indexes is the all-items index") {
    val rnd = new scala.util.Random(7)
    val rows = for { i <- 1 to 12; pd <- Seq("p0", "p1") } yield
      Seq[Any](i, if (i <= 6) "g1" else "g2", pd,
        (100 + rnd.nextInt(100000)) / 100.0, (1 + rnd.nextInt(20)).toDouble)
    val d = createDf(spark, "item int, grp string, pd string, exp double, qty double", rows)
    val subs = PriceIndex.groupedLaspeyres(d, "item", "grp", col("pd"), "exp", "qty", "p0")
      .filter(col("period") === "p1")
      .collect().map(r => (r.getLong(3), r.getDouble(4)))
    val direct = PriceIndex.bilateralIndexes(d, "item", col("pd"), "exp", "qty", "p0")
      .filter(col("period") === "p1").collect().head.getDouble(2)
    val aggregated = subs.map { case (w, l) => w.toDouble * l }.sum /
      subs.map(_._1.toDouble).sum
    assert(math.abs(aggregated - direct) < 1e-5,
      s"aggregate-of-subindexes $aggregated vs direct $direct")
  }

  test("index is invariant to row order and partitioning (micro-quantized sums)") {
    val shuffled = tx.repartition(7, col("qty")).sortWithinPartitions(col("exp").desc)
    val a = PriceIndex.bilateralIndexes(shuffled, "item", col("pd"), "exp", "qty", "p0")
      .collect().map(_.toSeq).toSet
    val b = run.map { case (k, (n, l, p, f)) => Seq(k, n, l, p, f) }.toSet
    assert(a == b)
  }

  test("GEKS transitivity: within one window lnG(a,c) = lnG(a,b) + lnG(b,c) ± quantization") {
    // deterministic antisymmetric lnT matrix (nanos)
    val n = 8
    val rnd = new scala.util.Random(7)
    val m = Array.fill(n, n)(0L)
    for (i <- 0 until n; j <- i + 1 until n) {
      m(i)(j) = (rnd.nextGaussian() * 5e7).toLong
      m(j)(i) = -m(i)(j)
    }
    def lnt(i: Int, j: Int): Long = m(i)(j)
    val win = 0 until n
    for (a <- 0 until n; b <- 0 until n; c <- 0 until n) {
      val direct = PriceIndex.geksLn(lnt, win, a, c)
      val chained = PriceIndex.geksLn(lnt, win, a, b) + PriceIndex.geksLn(lnt, win, b, c)
      // each geksLn rounds once -> the identity holds to ±1 nano per round
      assert(math.abs(direct - chained) <= 2,
        s"transitivity broke at ($a,$b,$c): $direct vs $chained")
    }
  }

  test("geksSplice: full window equals in-window GEKS; splice extends monotonically in count") {
    val n = 10
    val rnd = new scala.util.Random(11)
    val m = Array.fill(n, n)(0L)
    for (i <- 0 until n; j <- i + 1 until n) {
      m(i)(j) = (rnd.nextGaussian() * 5e7).toLong
      m(j)(i) = -m(i)(j)
    }
    def lnt(i: Int, j: Int): Long = m(i)(j)
    // window >= nPeriods: the published series IS the one-window GEKS
    val full = PriceIndex.geksSplice(lnt, n, window = n)
    for (t <- 0 until n)
      assert(full(t) == PriceIndex.geksLn(lnt, 0 until n, 0, t))
    assert(full(0) == 0L, "base period must publish exactly 1.0")
    // rolling window: earlier periods' published values never change as
    // periods arrive (the splice only APPENDS — publication stability)
    val w = 4
    val shorter = PriceIndex.geksSplice(lnt, n - 2, window = w)
    val longer = PriceIndex.geksSplice(lnt, n, window = w)
    assert(longer.take(n - 2).sameElements(shorter))
  }

  test("gearyKhamis: single-item panel converges to the price relative after one sweep") {
    // one item: π = weighted mean deflated price, P_t = p_t/π — the GK
    // fixed point is exactly the price relative, reached in one sweep
    val d = createDf(spark, "item int, pd string, exp double, qty double", Seq(
      Seq[Any](1, "p0", 20.0, 2.0),   // p = 10
      Seq[Any](1, "p1", 60.0, 3.0),   // p = 20
      Seq[Any](1, "p2", 20.0, 4.0)))  // p = 5
    val got = PriceIndex.gearyKhamis(d, "item", col("pd"), "exp", "qty", iters = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(got("p0") == 1.0)
    assert(math.abs(got("p1") - 2.0) < 1e-5, got.toString)
    assert(math.abs(got("p2") - 0.5) < 1e-5, got.toString)
  }

  test("gearyKhamis: identical prices across periods stay exactly 1.0") {
    val d = createDf(spark, "item int, pd string, exp double, qty double", Seq(
      Seq[Any](1, "p0", 10.0, 2.0), Seq[Any](2, "p0", 30.0, 3.0),
      Seq[Any](1, "p1", 10.0, 2.0), Seq[Any](2, "p1", 30.0, 3.0),
      Seq[Any](1, "p2", 20.0, 4.0), Seq[Any](2, "p2", 60.0, 6.0)))
    val got = PriceIndex.gearyKhamis(d, "item", col("pd"), "exp", "qty")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.forall { case (_, n, gk) => n == 2 && gk == 1.0 }, got.mkString(","))
  }

  test("gearyKhamis: a row without a period takes no part in the index") {
    val rows = Seq(
      Seq[Any](1, "p0", 20.0, 2.0), Seq[Any](2, "p0", 30.0, 3.0),
      Seq[Any](1, "p1", 60.0, 3.0), Seq[Any](2, "p1", 33.0, 3.0))
    def gk(extra: Seq[Seq[Any]]) = PriceIndex.gearyKhamis(
        createDf(spark, "item int, pd string, exp double, qty double", rows ++ extra),
        "item", col("pd"), "exp", "qty", iters = 4, tol = 0.0)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    assert(gk(Seq(Seq[Any](1, null, 500.0, 1.0))) == gk(Nil))
  }

  test("timeProductDummy: a row without a period takes no part; an all-null panel is refused") {
    val schema = "item int, pd string, exp double, qty double"
    val rows = Seq(
      Seq[Any](1, "p0", 20.0, 2.0), Seq[Any](2, "p0", 30.0, 3.0),
      Seq[Any](1, "p1", 60.0, 3.0), Seq[Any](2, "p1", 33.0, 3.0))
    def tpd(rs: Seq[Seq[Any]]) = PriceIndex.timeProductDummy(createDf(spark, schema, rs),
        "item", col("pd"), "exp", "qty", iters = 4, tolNanos = 0L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    assert(tpd(rows :+ Seq[Any](1, null, 500.0, 1.0)) == tpd(rows))
    val allNull = Seq(Seq[Any](1, null, 20.0, 2.0), Seq[Any](2, null, 30.0, 3.0))
    val e = intercept[IllegalArgumentException](tpd(allNull))
    assert(e.getMessage.contains("tpdIndex: the price panel is empty"))
  }

  test("timeProductDummy: single-item panel publishes the price relative") {
    // one item: s=1, round 1 gives δ_t = ln p_t and the alternation is
    // stationary from there — TPD = p_t/p_0 exactly
    val d = createDf(spark, "item int, pd string, exp double, qty double", Seq(
      Seq[Any](1, "p0", 20.0, 2.0),   // p = 10
      Seq[Any](1, "p1", 60.0, 3.0),   // p = 20
      Seq[Any](1, "p2", 20.0, 4.0)))  // p = 5
    val got = PriceIndex.timeProductDummy(d, "item", col("pd"), "exp", "qty", iters = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(got("p0") == 1.0)
    assert(math.abs(got("p1") - 2.0) < 1e-5, got.toString)
    assert(math.abs(got("p2") - 0.5) < 1e-5, got.toString)
  }

  test("timeProductDummy: identical prices across periods stay exactly 1.0") {
    val d = createDf(spark, "item int, pd string, exp double, qty double", Seq(
      Seq[Any](1, "p0", 10.0, 2.0), Seq[Any](2, "p0", 30.0, 3.0),
      Seq[Any](1, "p1", 10.0, 2.0), Seq[Any](2, "p1", 30.0, 3.0)))
    val got = PriceIndex.timeProductDummy(d, "item", col("pd"), "exp", "qty")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.forall { case (_, n, v) => n == 2 && v == 1.0 }, got.mkString(","))
  }

  test("GK/TPD convergence early-exit: flat panels stop immediately; tol=0 pays the full cap") {
    val d = createDf(spark, "item int, pd string, exp double, qty double", Seq(
      Seq[Any](1, "p0", 10.0, 2.0), Seq[Any](2, "p0", 30.0, 3.0),
      Seq[Any](1, "p1", 10.0, 2.0), Seq[Any](2, "p1", 30.0, 3.0)))
    // flat prices: sweep 1 already reproduces the level vector -> the
    // movement check fires at the first opportunity (GK checks from
    // sweep 1, TPD from sweep 2 — sweep 1 has no previous δ)
    val gk = PriceIndex.gearyKhamis(d, "item", col("pd"), "exp", "qty",
      iters = 12, tol = 1e-6).collect()
    assert(gk.forall(_.getLong(3) <= 2), gk.mkString(","))
    val tpd = PriceIndex.timeProductDummy(d, "item", col("pd"), "exp", "qty",
      iters = 12, tolNanos = 1000L).collect()
    assert(tpd.forall(_.getLong(3) <= 2), tpd.mkString(","))
    // tol=0 disables the exit: iters_run == the cap, values unchanged
    val gk0 = PriceIndex.gearyKhamis(d, "item", col("pd"), "exp", "qty",
      iters = 4, tol = 0.0).collect()
    assert(gk0.forall(_.getLong(3) == 4), gk0.mkString(","))
    val tpd0 = PriceIndex.timeProductDummy(d, "item", col("pd"), "exp", "qty",
      iters = 3, tolNanos = 0L).collect()
    assert(tpd0.forall(_.getLong(3) == 3), tpd0.mkString(","))
    assert(gk.map(r => (r.getString(0), r.getDouble(2))).toSeq.sorted
      == gk0.map(r => (r.getString(0), r.getDouble(2))).toSeq.sorted)
    assert(tpd.map(r => (r.getString(0), r.getDouble(2))).toSeq.sorted
      == tpd0.map(r => (r.getString(0), r.getDouble(2))).toSeq.sorted)
  }

  test("geksSplice variants: identical inside the first window; movement/window are exact adds") {
    val n = 9
    val rnd = new scala.util.Random(13)
    val m = Array.fill(n, n)(0L)
    for (i <- 0 until n; j <- i + 1 until n) {
      m(i)(j) = (rnd.nextGaussian() * 5e7).toLong
      m(j)(i) = -m(i)(j)
    }
    def lnt(i: Int, j: Int): Long = m(i)(j)
    val w = 4
    val mean = PriceIndex.geksSplice(lnt, n, w, "mean")
    val movement = PriceIndex.geksSplice(lnt, n, w, "movement")
    val windowS = PriceIndex.geksSplice(lnt, n, w, "window")
    val half = PriceIndex.geksSplice(lnt, n, w, "half")
    // first window: all variants publish the same in-window GEKS
    for (t <- 0 until w)
      assert(mean(t) == movement(t) && mean(t) == windowS(t) && mean(t) == half(t))
    // single-link splices: each later step is exactly lnP(z) + lnG_w(z, T)
    // with z = T-1 (movement), T-w+1 (window), T-floor(w/2) (half)
    for (t <- w until n) {
      val win = (t - w + 1) to t
      assert(movement(t) == movement(t - 1) + PriceIndex.geksLn(lnt, win, t - 1, t))
      assert(windowS(t) == windowS(t - w + 1) + PriceIndex.geksLn(lnt, win, t - w + 1, t))
      assert(half(t) == half(t - w / 2) + PriceIndex.geksLn(lnt, win, t - w / 2, t))
    }
    // w=2: the overlap is a single period, so half coincides with movement
    assert(PriceIndex.geksSplice(lnt, n, 2, "half")
      .sameElements(PriceIndex.geksSplice(lnt, n, 2, "movement")))
    // full window: no splice steps, so all variants coincide everywhere
    val full = PriceIndex.geksSplice(lnt, n, n, "movement")
    assert(full.sameElements(PriceIndex.geksSplice(lnt, n, n, "mean")))
    assert(full.sameElements(PriceIndex.geksSplice(lnt, n, n, "half")))
    intercept[IllegalArgumentException] {
      PriceIndex.geksSplice(lnt, n, w, "banana")
    }
  }

  test("GEKS commensurability: scaling one period's prices shifts only that period's index") {
    // scaling every price in period t by λ shifts lnT(·,t) by ln λ and
    // leaves other pairs alone; the GEKS mean passes the shift through
    // EXACTLY (w-1 shifted incoming terms + the base-leg term = w/w).
    val n = 8
    val rnd = new scala.util.Random(17)
    val m = Array.fill(n, n)(0L)
    for (i <- 0 until n; j <- i + 1 until n) {
      m(i)(j) = (rnd.nextGaussian() * 5e7).toLong
      m(j)(i) = -m(i)(j)
    }
    val target = 5
    val shift = 31415926L // ln λ in nanos
    def lnt(i: Int, j: Int): Long = m(i)(j)
    def lntShift(i: Int, j: Int): Long =
      m(i)(j) + (if (j == target && i != target) shift
                 else if (i == target && j != target) -shift
                 else 0L)
    val base = PriceIndex.geksSplice(lnt, n, n)
    val shifted = PriceIndex.geksSplice(lntShift, n, n)
    for (t <- 0 until n) {
      val expected = if (t == target) base(t) + shift else base(t)
      // one rounded mean per entry -> ±1 nano
      assert(math.abs(shifted(t) - expected) <= 1,
        s"period $t: ${shifted(t)} vs expected $expected")
    }
  }

  test("geksIndex end-to-end: two identical-price periods index to 1.0") {
    val d = createDf(spark, "item int, pd string, exp double, qty double", Seq(
      Seq[Any](1, "p0", 10.0, 2.0), Seq[Any](2, "p0", 30.0, 3.0),
      Seq[Any](1, "p1", 10.0, 2.0), Seq[Any](2, "p1", 30.0, 3.0),
      Seq[Any](1, "p2", 20.0, 4.0), Seq[Any](2, "p2", 60.0, 6.0)))
    val got = PriceIndex.geksIndex(d, "item", col("pd"), "exp", "qty", window = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // p0->p1: all unit prices unchanged -> 1.0; p2 same prices too (double
    // expenditure at double quantity) -> every bilateral Törnqvist is 1
    assert(got("p0") == 1.0 && got("p1") == 1.0 && got("p2") == 1.0, got.toString)
  }

  test("geksIndex degenerate panels: empty input -> empty; one period -> base row at 1.0") {
    val schema = "item int, pd string, exp double, qty double"
    val empty = createDf(spark, schema, Seq())
    assert(PriceIndex.geksIndex(empty, "item", col("pd"), "exp", "qty", window = 3)
      .count() == 0)
    val one = createDf(spark, schema, Seq(
      Seq[Any](1, "p0", 10.0, 2.0), Seq[Any](2, "p0", 30.0, 3.0)))
    val got = PriceIndex.geksIndex(one, "item", col("pd"), "exp", "qty", window = 3)
      .collect()
    assert(got.length == 1 && got(0).getString(0) == "p0" && got(0).getDouble(1) == 1.0)
  }

  test("geksIndex fails fast (naming the periods) when an in-window pair has no matched items") {
    // item 1 trades p0+p1 only, item 2 trades p1+p2 only: the (p0, p2)
    // bilateral has an EMPTY matched sample inside the window=3 span —
    // silently treating it as ratio 1.0 would bias the GEKS mean
    val d = createDf(spark, "item int, pd string, exp double, qty double", Seq(
      Seq[Any](1, "p0", 10.0, 2.0), Seq[Any](1, "p1", 12.0, 2.0),
      Seq[Any](2, "p1", 30.0, 3.0), Seq[Any](2, "p2", 33.0, 3.0)))
    val e = intercept[IllegalArgumentException] {
      PriceIndex.geksIndex(d, "item", col("pd"), "exp", "qty", window = 3).count()
    }
    assert(e.getMessage.contains("p0") && e.getMessage.contains("p2"), e.getMessage)
  }

  // four periods with gaps: item 1 skips p1, item 2 skips p2, item 3
  // trades p0 only, item 4 trades twice in p1 (one unit value from sums)
  private def gapped = createDf(spark, "item int, pd string, exp double, qty double", Seq(
    Seq[Any](1, "p0", 10.0, 2.0), Seq[Any](1, "p2", 13.5, 2.0), Seq[Any](1, "p3", 9.25, 1.0),
    Seq[Any](2, "p0", 30.0, 3.0), Seq[Any](2, "p1", 31.2, 3.0), Seq[Any](2, "p3", 40.0, 3.5),
    Seq[Any](3, "p0", 7.0, 1.0),
    Seq[Any](4, "p1", 5.5, 1.0), Seq[Any](4, "p1", 6.25, 1.5), Seq[Any](4, "p2", 11.0, 2.0),
    Seq[Any](4, "p3", 14.75, 3.0)))

  test("tornqvistLnPairs on a panel with gaps equals a driver-side recompute") {
    def halfUp(x: Double): Long = BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val rows = gapped.collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
    // unit value and expenditure per (item, period), from decimal sums as the operator does
    val uv = rows.groupBy(r => (r._1, r._2)).map { case (k, rs) =>
      val (e, q) = (rs.map(r => BigDecimal(r._3)).sum, rs.map(r => BigDecimal(r._4)).sum)
      k -> (e.toDouble, e.toDouble / q.toDouble)
    }
    val months = rows.map(_._2).distinct.sorted
    val want = (for {
      a <- months.indices; b <- a + 1 to math.min(a + 2, months.length - 1)
      items = uv.keys.toSeq.collect { case (i, pd) if pd == months(a) && uv.contains((i, months(b))) => i }
      if items.nonEmpty
    } yield {
      val (ua, ub) = (items.map(i => uv((i, months(a)))), items.map(i => uv((i, months(b)))))
      val (ea, eb) = (ua.map(u => halfUp(u._1 * 1e6)), ub.map(u => halfUp(u._1 * 1e6)))
      val tn = items.indices.map { j =>
        val sBar = (ea(j).toDouble / ea.sum.toDouble + eb(j).toDouble / eb.sum.toDouble) / 2.0
        halfUp(sBar * StrictMath.log(ub(j)._2 / ua(j)._2) * 1e9)
      }.sum
      (a.toLong, b.toLong) -> tn
    }).toMap
    val got = PriceIndex.tornqvistLnPairs(gapped, "item", col("pd"), "exp", "qty", maxLag = 2)
    assert(got.columns.toSeq == Seq("m_a", "m_b", "lnt_nano"))
    assert(got.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap == want)
    assert(want.size == 5, "every pair at most two periods apart has a matched item")
  }

  test("tornqvistLnPairs: the share-window exchange carries five numeric columns") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.types.StringType
    val h = new AdaptiveSparkPlanHelper {}
    val plan = PriceIndex.tornqvistLnPairs(gapped, "item", col("pd"), "exp", "qty", maxLag = 2)
      .queryExecution.executedPlan
    val share = h.collectFirst(plan) { case w: WindowExec if w.partitionSpec.nonEmpty => w }
    assert(share.isDefined, s"no (m_a, m_b) share window:\n$plan")
    val exchange = h.collectFirst(share.get) { case e: ShuffleExchangeExec => e }
    assert(exchange.isDefined, s"no exchange under the share window:\n$plan")
    val out = exchange.get.output
    assert(!out.exists(_.dataType == StringType) && out.length <= 5,
      s"share-window exchange carries ${out.map(a => s"${a.name}: ${a.dataType.simpleString}").mkString(", ")}")
  }

  // three periods: p0 (price ref), pb (weight ref), p1 (current)
  private def tx3 = createDf(spark, "item int, pd string, exp double, qty double", Seq(
    Seq[Any](1, "p0", 10.0, 10.0), // p=1
    Seq[Any](2, "p0", 40.0, 10.0), // p=4
    Seq[Any](1, "pb", 30.0, 20.0), // p=1.5, qb=20
    Seq[Any](2, "pb", 20.0, 5.0),  // p=4,   qb=5
    Seq[Any](1, "p1", 20.0, 10.0), // p=2
    Seq[Any](2, "p1", 20.0, 10.0), // p=2
  ))

  test("loweYoung: hand-checked Lowe and Young; both exactly 1.0 at the base period") {
    val r = PriceIndex.loweYoung(tx3, "item", col("pd"), "exp", "qty", "p0", "pb")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(r("p0") == ((2L, 1.0, 1.0)))
    // Lowe(p1) = (2*20 + 2*5) / (1*20 + 4*5) = 50/40 = 1.25
    val (n, lowe, young) = r("p1")
    assert(n == 2L && lowe == 1.25)
    // Young: s_b = (1.5*20, 4*5) = (30, 20); rel = (2, 0.5)
    //   (30*2 + 20*0.5) / 50 = 70/50 = 1.4
    assert(young == 1.4)
  }

  test("loweYoung: weightPeriod == basePeriod collapses Lowe onto Laspeyres and Young onto Carli-weighted") {
    val lw = PriceIndex.loweYoung(tx, "item", col("pd"), "exp", "qty", "p0", "p0")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val la = PriceIndex.bilateralIndexes(tx, "item", col("pd"), "exp", "qty", "p0")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(lw == la) // Lowe with b = 0 IS the Laspeyres, bit-exactly
  }

  test("loweYoung: item missing from any of the three reference periods drops from the basket") {
    val withNew = createDf(spark, "item int, pd string, exp double, qty double",
      Seq(Seq[Any](3, "p1", 1000.0, 1.0), Seq[Any](3, "pb", 500.0, 1.0))) // no p0 row
    val r = PriceIndex.loweYoung(tx3.union(withNew), "item", col("pd"), "exp", "qty", "p0", "pb")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(r("p1") == ((2L, 1.25))) // unchanged by the unmatched item
  }

  test("laspeyresContributions: additivity — Σ contrib = 100·(Laspeyres − 1) per period") {
    val c = PriceIndex.laspeyresContributions(tx, "item", col("pd"), "exp", "qty", "p0")
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(2)).toMap
    // p1: relatives (2, 0.5) on base shares (10/50, 40/50):
    //   item1 = 100*(20-10)/50 = +20 pts, item2 = 100*(20-40)/50 = -40 pts
    assert(c(("p1", 1)) == 20.0 && c(("p1", 2)) == -40.0)
    // sums to 100*(0.8 - 1) = -20 — the decomposition of q_price_index's L
    assert(c(("p1", 1)) + c(("p1", 2)) == -20.0)
    // base period decomposes the zero change into exact zeros
    assert(c(("p0", 1)) == 0.0 && c(("p0", 2)) == 0.0)
  }

  test("laspeyresContributions: per-period matched denominator keeps additivity when the sample shrinks") {
    // item 2 vanishes in p2: matched basket there is item 1 alone
    val d = createDf(spark, "item int, pd string, exp double, qty double", Seq(
      Seq[Any](1, "p0", 10.0, 10.0), Seq[Any](2, "p0", 40.0, 10.0),
      Seq[Any](1, "p2", 30.0, 10.0))) // p=3, relative 3.0
    val c = PriceIndex.laspeyresContributions(d, "item", col("pd"), "exp", "qty", "p0")
      .filter(col("period") === "p2").collect()
    // matched den = p0 expenditure of item 1 only = 10: contrib = 100*(30-10)/10
    assert(c.length == 1 && c(0).getDouble(2) == 200.0)
  }

  test("hedonicIndex: price fully explained by the characteristic gives index 1, beta recovered") {
    // ln p = 0.1 * size exactly; sizes shift up between periods, so the RAW
    // mean ln-price rises, but the quality-adjusted index must stay ~1
    val rows = Seq(
      ("t0", "A", 10.0), ("t0", "A", 20.0),
      ("t1", "A", 20.0), ("t1", "A", 30.0))
      .map { case (pd, fe, s) => Seq[Any](pd, fe, s, math.exp(0.1 * s), 1.0) }
    val df = createDf(spark, "pd string, fe string, size double, p double, q double", rows)
    val got = PriceIndex.hedonicIndex(df, col("pd"), col("fe"), col("size"),
        col("p"), col("q"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    val (n0, b0, i0) = got("t0")
    val (n1, b1, i1) = got("t1")
    assert(n0 == 2L && n1 == 2L)
    assert(math.abs(b0 - 0.1) < 1e-5 && b0 == b1)
    assert(i0 == 1.0)
    assert(math.abs(i1 - 1.0) < 1e-5, s"quality-adjusted index must be ~1, got $i1")
  }

  test("hedonicIndex: constant characteristic degrades to the plain ln-mean ratio (beta 0)") {
    val rows = Seq(
      ("t0", "A", 5.0, 10.0), ("t1", "A", 5.0, 20.0))
      .map { case (pd, fe, s, p) => Seq[Any](pd, fe, s, p, 1.0) }
    val df = createDf(spark, "pd string, fe string, size double, p double, q double", rows)
    val got = PriceIndex.hedonicIndex(df, col("pd"), col("fe"), col("size"),
        col("p"), col("q"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(2), r.getDouble(3)))).toMap
    assert(got("t0") == ((0.0, 1.0)))
    assert(math.abs(got("t1")._2 - 2.0) < 1e-5) // exp(ln 20 - ln 10)
    assert(got("t1")._1 == 0.0)
  }

  test("hedonicIndex is partitioning-invariant (integer re-quantization at every stage)") {
    val rows = (1 to 60).map { i =>
      val pd = if (i % 2 == 0) "t0" else "t1"
      val fe = s"b${i % 3}"
      val size = (i % 7 + 1).toDouble
      Seq[Any](pd, fe, size, 5.0 + 0.3 * size + (i % 5), 1.0 + (i % 2))
    }
    val df = createDf(spark, "pd string, fe string, size double, p double, q double", rows)
    def run(d: org.apache.spark.sql.DataFrame) =
      PriceIndex.hedonicIndex(d, col("pd"), col("fe"), col("size"), col("p"), col("q"))
        .orderBy(col("period")).collect().toSeq
    assert(run(df) == run(df.repartition(7)))
  }

  // shares in p0: (0.2, 0.8); in p1: (0.5, 0.5); relatives (2, 0.5)

  test("extendedBilateral: hand-checked ME/Palgrave/GL/HL and the formula ordering") {
    val r = PriceIndex.extendedBilateral(tx, "item", col("pd"), "exp", "qty", "p0")
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getDouble(2), x.getDouble(3), x.getDouble(4), x.getDouble(5))).toMap
    assert(r("p0") == ((2L, 1.0, 1.0, 1.0, 1.0)))
    val (n, me, pal, gl, hl) = r("p1")
    assert(n == 2L)
    assert(me == 0.8)                              // 80 / 100, exact longs
    assert(pal == 1.25)                            // 0.5·2 + 0.5·0.5
    assert(math.abs(gl - math.pow(2.0, -0.6)) < 1e-6)   // exp(0.2ln2 − 0.8ln2)
    assert(math.abs(hl - 1.0 / 1.7) < 1e-6)        // 1/(0.2/2 + 0.8/0.5)
    assert(hl < gl && gl < pal)                    // HL <= GL <= Palgrave
  }

  test("satoVartia: log-mean weights hand-checked; static shares give w_sum = 1") {
    val r = PriceIndex.satoVartia(tx, "item", col("pd"), "exp", "qty", "p0")
      .collect().map(x => x.getString(0) ->
        ((x.getLong(1), x.getDouble(2), x.getDouble(3)))).toMap
    // p0 vs itself: shares static → every w = s (log-mean limit), Σw = 1
    assert(r("p0") == ((2L, 1.0, 1.0)))
    val (n, sv, wsum) = r("p1")
    assert(n == 2L)
    // w1 = .3/ln2.5, w2 = .3/−ln.625; Σw·lnr / Σw = ln 0.8 analytically here
    assert(math.abs(sv - 0.8) < 1e-4)
    assert(math.abs(wsum - 0.965700) < 1e-5)
    assert(wsum < 1.0) // log-mean concavity: moving shares shrink Σw below 1
  }

  test("lloydMoulton: sigma=0.5 closed form; sigma=0 reproduces Laspeyres") {
    val lm = PriceIndex.lloydMoulton(tx, "item", col("pd"), "exp", "qty", "p0", 0.5)
      .collect().map(x => x.getString(0) -> x.getDouble(2)).toMap
    assert(lm("p0") == 1.0)
    // (0.2·√2 + 0.8/√2)² = (1.2/√2)² = 0.72 exactly
    assert(math.abs(lm("p1") - 0.72) < 1e-6)
    val lm0 = PriceIndex.lloydMoulton(tx, "item", col("pd"), "exp", "qty", "p0", 0.0)
      .collect().map(x => x.getString(0) -> x.getDouble(2)).toMap
    // σ=0: Σ s0·r = Laspeyres = 0.8
    assert(math.abs(lm0("p1") - 0.8) < 1e-6)
    intercept[IllegalArgumentException] {
      PriceIndex.lloydMoulton(tx, "item", col("pd"), "exp", "qty", "p0", 1.0)
    }
  }

  test("new bilaterals: matched-sample (unmatched item excluded) and partition-invariant") {
    val withNew = createDf(spark, "item int, pd string, exp double, qty double",
      Seq(Seq[Any](3, "p1", 1000.0, 1.0)))
    val all = tx.union(withNew)
    def meOf(d: org.apache.spark.sql.DataFrame) =
      PriceIndex.extendedBilateral(d, "item", col("pd"), "exp", "qty", "p0")
        .orderBy(col("period")).collect().toSeq
    assert(meOf(all) == meOf(tx)) // item 3 never matches the base basket
    assert(meOf(all) == meOf(all.repartition(5)))
    def svOf(d: org.apache.spark.sql.DataFrame) =
      PriceIndex.satoVartia(d, "item", col("pd"), "exp", "qty", "p0")
        .orderBy(col("period")).collect().toSeq
    assert(svOf(all) == svOf(all.repartition(5)))
  }
}
