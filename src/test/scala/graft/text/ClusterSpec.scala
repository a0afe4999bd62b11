package graft.text

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testing.{SparkActions, TestSpark}
import graft.testing.DfAssert.createDf

class ClusterSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def df(rows: Seq[(Long, Seq[Long])]) =
    createDf(spark, "id bigint, v array<bigint>",
      rows.map { case (id, v) => Seq[Any](id, v) })

  test("two well-separated blobs converge to their centroids in one round") {
    // blob A around (0,0): ids 0,2,4 — blob B around (100,100): ids 1,3,5.
    // init centers = ids 0 and 1 (one in each blob), so round 1 already
    // assigns perfectly and the floored centroids are the blob means.
    val d = df(Seq(
      0L -> Seq(0L, 0L), 2L -> Seq(2L, 0L), 4L -> Seq(0L, 4L),
      1L -> Seq(100L, 100L), 3L -> Seq(102L, 100L), 5L -> Seq(100L, 104L)))
    val (out, centers) = Cluster.kmeansIntWithCenters(d, "id", "v", k = 2, iters = 2)
    val got = out.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(0L -> 0, 2L -> 0, 4L -> 0, 1L -> 1, 3L -> 1, 5L -> 1))
    // means: A = (2/3, 4/3) floors to (0, 1); B = (302/3, 304/3) -> (100, 101)
    assert(centers == IndexedSeq(Seq(0L, 1L), Seq(100L, 101L)))
  }

  test("final assignment is optimal against the final centers (Lloyd invariant)") {
    val rows = (0L until 40L).map(i => i -> Seq(i * 7 % 23, i * 13 % 31, i * 3 % 11))
    val (out, centers) = Cluster.kmeansIntWithCenters(df(rows), "id", "v", k = 4, iters = 3)
    val byId = rows.toMap
    out.collect().foreach { r =>
      val (id, cl, dist) = (r.getLong(0), r.getInt(1), r.getLong(2))
      val dists = centers.map(c => byId(id).zip(c).map { case (a, b) => (a - b) * (a - b) }.sum)
      assert(dist == dists(cl), s"id $id: reported dist must match recomputation")
      val best = dists.zipWithIndex.min // (dist, cluster) lexicographic = the operator's tiebreak
      assert((dists(cl), cl) == best, s"id $id assigned $cl but $best is better")
    }
  }

  test("centroid means floor toward -inf for negative sums") {
    // one cluster (k=1): values -1 and -2 -> sum -3, n 2 -> floor(-1.5) = -2
    val d = df(Seq(0L -> Seq(-1L), 1L -> Seq(-2L)))
    val (_, centers) = Cluster.kmeansIntWithCenters(d, "id", "v", k = 1, iters = 1)
    assert(centers == IndexedSeq(Seq(-2L)))
  }

  test("an emptied cluster keeps its previous center") {
    // ids 0,1 are identical -> every point ties to cluster 0 (smaller id
    // wins), cluster 1 receives nothing and must keep its init center
    val d = df(Seq(0L -> Seq(5L, 5L), 1L -> Seq(5L, 5L), 2L -> Seq(6L, 5L)))
    val (out, centers) = Cluster.kmeansIntWithCenters(d, "id", "v", k = 2, iters = 2)
    assert(centers(1) == Seq(5L, 5L), "empty cluster must retain its center")
    assert(out.collect().forall(_.getInt(1) == 0), "ties break to the smaller cluster")
  }

  test("iters = 0 assigns against the initial centers") {
    val d = df(Seq(0L -> Seq(0L), 1L -> Seq(10L), 2L -> Seq(4L), 3L -> Seq(7L)))
    val got = Cluster.kmeansInt(d, "id", "v", k = 2, iters = 0)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assert(got == Map(0L -> ((0, 0L)), 1L -> ((1, 0L)), 2L -> ((0, 16L)), 3L -> ((1, 9L))))
  }

  test("null vectors are dropped; fewer than k rows raises") {
    val d = createDf(spark, "id bigint, v array<bigint>",
      Seq(Seq[Any](0L, Seq(1L)), Seq[Any](1L, null), Seq[Any](2L, Seq(3L))))
    assert(Cluster.kmeansInt(d, "id", "v", k = 2, iters = 1).count() == 2)
    val left = SparkActions.leftPersisted {
      val e = intercept[IllegalArgumentException] {
        Cluster.kmeansInt(d, "id", "v", k = 3, iters = 1)
      }
      assert(e.getMessage.contains("at least k=3"))
    }
    assert(left.isEmpty, "the error must release the checkpointed input")
  }

  private val grid = (0L until 12L).map(i => i -> Seq(i % 5, i * 3 % 7 - 3))

  test("centroidSilhouette releases the trainer's checkpointed input") {
    assert(SparkActions.leftPersisted(
      Cluster.centroidSilhouette(df(grid), "id", "v", k = 3, iters = 2).collect()).isEmpty)
  }

  // Lloyd stops at its fixed point: `grid` is fixed from round 2 on, this
  // one only from round 6, so its first rounds each pay their job
  private val slow = (0L until 40L).map(i => i -> Seq(i * 7 % 23, i * 13 % 31, i * 3 % 11))

  test("building kmeansInt runs iters + 2 Spark actions: checkpoint, init, one per round") {
    for (iters <- Seq(0, 1, 3))
      assert(SparkActions.count { Cluster.kmeansInt(df(slow), "id", "v", k = 3, iters = iters); () }
        == iters + 2, s"iters=$iters")
  }

  test("one Lloyd round is one exchange: two Spark jobs") {
    def jobs(iters: Int): Int =
      SparkActions.jobs { Cluster.kmeansInt(df(grid), "id", "v", k = 3, iters = iters); () }
    assert(jobs(2) - jobs(1) == 2)
  }

  test("reserved output names are rejected") {
    val d = createDf(spark, "id bigint, cluster array<bigint>",
      Seq(Seq[Any](0L, Seq(1L))))
    val e = intercept[IllegalArgumentException] {
      Cluster.kmeansInt(d, "id", "cluster", k = 1, iters = 1)
    }
    assert(e.getMessage.contains("kmeansInt"))
  }
}
