package graft.ops

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.testing.{SparkActions, TestSpark}
import graft.testing.DfAssert.createDf
import graft.text.Dedup

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
      Dedup.dedupByPairsKeepBest(docs, "doc_id", pairs, org.apache.spark.sql.functions.col("q"))
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
      Stats.huberLocation(d, Seq("g"), org.apache.spark.sql.functions.col("v"), c = 1.0,
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
      PriceIndex.gearyKhamis(panel, "item", org.apache.spark.sql.functions.col("pd"),
        "exp", "qty", iters = iters, tol = 0.0)
      ()
    }
    assert(jobs(3) - jobs(2) == 2)
  }

  test("a timeProductDummy sweep runs two Spark jobs: exchange, collect") {
    def jobs(iters: Int): Int = SparkActions.jobs {
      PriceIndex.timeProductDummy(panel, "item", org.apache.spark.sql.functions.col("pd"),
        "exp", "qty", iters = iters, tolNanos = 0L)
      ()
    }
    assert(jobs(3) - jobs(2) == 2)
  }
}
