package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.testing.{SparkActions, TestSpark}
import graft.testing.DfAssert.createDf
import graft.text.{Cluster, Dedup}

/** Spark jobs per call of the iterative graph and dedup operators, pinned
  * on fixed tiny graphs: building the result plus one `collect()`. Every
  * eager checkpoint, count probe and convergence round is one action, so
  * a change to how a loop checkpoints, converges or probes its input
  * shows here as a changed count ([[SparkActions]] says what one action
  * is).
  */
class IterationJobsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // a triangle with a two-edge tail (peels in rounds) beside a K4
  private def g: DataFrame = createDf(spark, "s int, t int",
    Seq(1 -> 2, 2 -> 3, 3 -> 1, 3 -> 4, 4 -> 5,
      10 -> 11, 10 -> 12, 10 -> 13, 11 -> 12, 11 -> 13, 12 -> 13)
      .map { case (a, b) => Seq[Any](a, b) })
  private def seeds: DataFrame = createDf(spark, "n int", Seq(Seq[Any](1), Seq[Any](10)))
  // a six-node chain (three pointer-jump rounds) and a separate pair
  private def pairs: DataFrame = createDf(spark, "id_a bigint, id_b bigint",
    Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 5L -> 6L, 10L -> 11L)
      .map { case (a, b) => Seq[Any](a, b) })
  private def docs: DataFrame = createDf(spark, "doc_id bigint, q int",
    Seq(1L, 2L, 3L, 4L, 5L, 6L, 10L, 11L, 20L).map(i => Seq[Any](i, (i % 4).toInt)))

  private val calls: Seq[(String, Int, () => Unit)] = Seq(
    ("pageRank", 5, () => Graph.pageRank(g, "s", "t", iterations = 5).collect()),
    ("personalizedPageRank", 5, () =>
      Graph.personalizedPageRank(g, "s", "t", seeds, "n", iterations = 5).collect()),
    ("labelPropagation", 4, () => Graph.labelPropagation(g, "s", "t", rounds = 4).collect()),
    ("kCore", 5, () => Graph.kCore(g, "s", "t", k = 2).collect()),
    ("kTruss", 4, () => Graph.kTruss(g, "s", "t", k = 3).collect()),
    ("triangleCount", 2, () => Graph.triangleCount(g, "s", "t").collect()),
    ("localClustering", 2, () => Graph.localClustering(g, "s", "t").collect()),
    ("hits", 9, () => Graph.hits(g, "s", "t", iterations = 3).collect()),
    ("bfsDistances", 7, () => Graph.bfsDistances(g, "s", "t", seeds, "n", maxHops = 4).collect()),
    ("closenessCentrality", 7, () =>
      Graph.closenessCentrality(g, "s", "t", seeds, "n", maxHops = 4).collect()),
    ("eccentricity", 7, () => Graph.eccentricity(g, "s", "t", seeds, "n", maxHops = 4).collect()),
    ("betweenness", 11, () => Graph.betweenness(g, "s", "t", seeds, "n", maxHops = 4).collect()),
    ("connectedComponents", 8, () => {
      val labels = Dedup.connectedComponents(pairs, "id_a", "id_b")
      labels.collect()
      labels.unpersist()
      ()
    }),
    ("dedupByPairs", 9, () => Dedup.dedupByPairs(docs, "doc_id", pairs).collect()),
    ("dedupByPairsKeepBest", 9, () =>
      Dedup.dedupByPairsKeepBest(docs, "doc_id", pairs, col("q"))
        .collect()))

  calls.foreach { case (name, expected, call) =>
    test(s"$name runs $expected Spark actions per call on the fixed graph") {
      assert(SparkActions.count(call()) == expected)
    }
  }

  test("a huberLocation sweep runs two Spark jobs: exchange, collect") {
    val d = createDf(spark, "g string, v double",
      Seq(("a", 1.0), ("a", 2.0), ("a", 40.0), ("b", -3.0), ("b", 5.0))
        .map { case (g, v) => Seq[Any](g, v) })
    def jobs(sweeps: Int): Int = SparkActions.jobs {
      Stats.huberLocation(d, Seq("g"), col("v"), c = 1.0,
        sweeps = sweeps)
      ()
    }
    assert(jobs(3) - jobs(2) == 2)
  }

  // two items over three periods; tol = 0 always pays every sweep
  private def panel: DataFrame = createDf(spark, "item int, pd string, exp double, qty double",
    Seq((1, "p0", 20.0, 2.0), (1, "p1", 60.0, 3.0), (1, "p2", 20.0, 4.0),
      (2, "p0", 30.0, 3.0), (2, "p1", 33.0, 3.0), (2, "p2", 36.0, 3.0))
      .map { case (i, p, e, q) => Seq[Any](i, p, e, q) })

  test("a gearyKhamis sweep runs two Spark jobs: exchange, collect") {
    def jobs(iters: Int): Int = SparkActions.jobs {
      PriceIndex.gearyKhamis(panel, "item", col("pd"),
        "exp", "qty", iters = iters, tol = 0.0)
      ()
    }
    assert(jobs(3) - jobs(2) == 2)
  }

  test("a timeProductDummy sweep runs two Spark jobs: exchange, collect") {
    def jobs(iters: Int): Int = SparkActions.jobs {
      PriceIndex.timeProductDummy(panel, "item", col("pd"),
        "exp", "qty", iters = iters, tolNanos = 0L)
      ()
    }
    assert(jobs(3) - jobs(2) == 2)
  }

  test("gearyKhamis runs 4 Spark actions per call at 3 sweeps: counts, one per sweep") {
    assert(SparkActions.count {
      PriceIndex.gearyKhamis(panel, "item", col("pd"), "exp", "qty", iters = 3, tol = 0.0)
        .collect(); ()
    } == 4)
  }

  test("timeProductDummy runs 4 Spark actions per call at 3 sweeps: totals, one per sweep") {
    assert(SparkActions.count {
      PriceIndex.timeProductDummy(panel, "item", col("pd"), "exp", "qty", iters = 3, tolNanos = 0L)
        .collect(); ()
    } == 4)
  }

  /** A call with a round count well past its fixed point stops at the round
    * it records; a call capped at that round gives the same rows in the
    * same number of Spark actions.
    */
  private def stopsAtFixedPoint(loop: String, big: Int)(call: Int => DataFrame): Unit = {
    def run(n: Int): (Seq[String], Int) = {
      var rows = Seq.empty[String]
      val actions = SparkActions.count { rows = call(n).collect().map(_.toString).toSeq.sorted }
      (rows, actions)
    }
    val wide = run(big)
    val stop = Observe.rounds(loop)
    assert(stop > 1 && stop < big, s"$loop ran $stop of $big rounds")
    assert(run(stop) == wide && Observe.rounds(loop) == stop, s"$loop capped at $stop rounds")
  }

  // Newton on nano-quantized sums need not reach a fixed point: on a few
  // rows the last nano can cycle, so these fixtures are large enough to settle
  test("logisticNewton stops at its exact fixed point") {
    val d = createDf(spark, "x double, y boolean",
      (0 until 200).map(i => Seq[Any](i * 4.0 / 200, (i * 37 % 11) < (i * 11 / 200))))
    stopsAtFixedPoint("logisticNewton", 16)(n =>
      Regression.logisticNewton(d, col("y"), col("x"), iterations = n))
  }

  test("poissonNewton stops at its exact fixed point") {
    val d = createDf(spark, "x double, y bigint",
      (0 until 20).map(i => Seq[Any](i * 2.0 / 20, (i * 37 % 7).toLong)))
    stopsAtFixedPoint("poissonNewton", 16)(n =>
      Regression.poissonNewton(d, col("y"), col("x"), iterations = n))
  }

  test("coxNewton stops at its exact fixed point") {
    val d = createDf(spark, "t bigint, e bigint, x double", (0 until 60).map(i =>
      Seq[Any]((i * 13 % 29).toLong + 1, if (i % 5 == 0) 0L else 1L, (i % 3).toDouble)))
    stopsAtFixedPoint("coxNewton", 16)(n =>
      Survival.coxNewton(d, col("t"), col("e"), col("x"), iterations = n))
  }

  test("huberLocation stops at its exact fixed point") {
    val d = createDf(spark, "g string, v double",
      Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 9.0), ("b", -3.0), ("b", 5.0))
        .map { case (g, v) => Seq[Any](g, v) })
    stopsAtFixedPoint("huberLocation", 16)(n =>
      Stats.huberLocation(d, Seq("g"), col("v"), c = 1.5, sweeps = n))
  }

  test("kmeansInt stops at its exact fixed point") {
    val d = createDf(spark, "id bigint, v array<bigint>",
      (0L until 40L).map(i => Seq[Any](i, Seq(i * 7 % 23, i * 13 % 31, i * 3 % 11))))
    stopsAtFixedPoint("lloyd", 20)(n => Cluster.kmeansInt(d, "id", "v", k = 3, iters = n))
  }
}
