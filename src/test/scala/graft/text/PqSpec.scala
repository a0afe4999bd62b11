package graft.text

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testing.{SparkActions, TestSpark}
import graft.testing.DfAssert.createDf

class PqSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // 8 vectors of dim 4: first subspace separates small/large, second
  // subspace separates even/odd ids — codes should carry both axes.
  private val vecs: Seq[(Int, Seq[Long])] = Seq(
    1 -> Seq(0L, 1L, 50L, 51L),
    2 -> Seq(2L, 3L, -50L, -49L),
    3 -> Seq(100L, 99L, 52L, 50L),
    4 -> Seq(101L, 98L, -48L, -51L),
    5 -> Seq(1L, 2L, 49L, 53L),
    6 -> Seq(3L, 1L, -52L, -50L),
    7 -> Seq(99L, 101L, 48L, 52L),
    8 -> Seq(98L, 100L, -49L, -52L),
  )
  private def df = createDf(spark, "id int, v array<bigint>",
    vecs.map { case (i, v) => Seq[Any](i, v) })

  private def jvmD2(a: Seq[Long], b: Seq[Long]): Long =
    a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum

  private def jvmEncode(v: Seq[Long], cb: IndexedSeq[IndexedSeq[Seq[Long]]]): Seq[Int] =
    cb.zipWithIndex.map { case (codes, s) =>
      val sub = codes.head.length
      val sv = v.slice(s * sub, (s + 1) * sub)
      codes.zipWithIndex.map { case (c, i) => (jvmD2(sv, c), i) }.min._2
    }

  test("train returns m codebooks of k centers with d/m components") {
    val cb = Pq.train(df, "id", "v", d = 4, m = 2, k = 2, iters = 2)
    assert(cb.length == 2 && cb.forall(_.length == 2) &&
      cb.forall(_.forall(_.length == 2)))
  }

  test("encodeCodes matches the JVM argmin against the returned codebooks") {
    val cb = Pq.train(df, "id", "v", d = 4, m = 2, k = 2, iters = 2)
    val got = df.select(col("id"), Pq.encodeCodes(col("v"), cb).as("c"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Int](1).toSeq).toMap
    val want = vecs.map { case (i, v) => i -> jvmEncode(v, cb) }.toMap
    assert(got == want)
    // both subspace axes are actually separated by the learned codes
    assert(got.values.map(_.head).toSet.size == 2)
    assert(got.values.map(_(1)).toSet.size == 2)
  }

  test("train rejects a dimension that does not split evenly") {
    intercept[IllegalArgumentException] {
      Pq.train(df, "id", "v", d = 4, m = 3, k = 2, iters = 1)
    }
  }

  test("quantization is sound: ADC self-distance is bounded by 2x the cell distortion") {
    // for a vector v with codes c: ADC(v, v) = sum_s d2(v_s, center(c_s)) —
    // exactly its own quantization distortion, so it can never be negative
    // and is zero iff v sits on its centers
    val cb = Pq.train(df, "id", "v", d = 4, m = 2, k = 2, iters = 2)
    val self = Pq.adcTopK(df, df, "id", "v", cb, topK = 8)
      .filter(col("query_id") === col("neighbor_id"))
      .collect().map(r => r.getLong(2))
    assert(self.length == 8 && self.forall(_ >= 0L))
  }

  test("adcTopK equals the exact JVM ADC recompute (scores, order, ties)") {
    val cb = Pq.train(df, "id", "v", d = 4, m = 2, k = 2, iters = 2)
    val queries = df.filter(col("id") <= 2)
    val got = Pq.adcTopK(df, queries, "id", "v", cb, topK = 3)
      .select(col("query_id"), col("neighbor_id"), col("approx_d2"), col("rank"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4))

    assert(got.toSeq == jvmAdcTopK(vecs, Seq(1, 2), cb, 3))
  }

  /** The ADC top-k on the JVM, every corpus row scored on its own. */
  private def jvmAdcTopK(corpus: Seq[(Int, Seq[Long])], queries: Seq[Int],
                         cb: IndexedSeq[IndexedSeq[Seq[Long]]], k: Int): Seq[(Int, Int, Long, Int)] =
    queries.flatMap { q =>
      val qv = vecs.toMap.apply(q)
      val scored = corpus.map { case (n, v) =>
        val d = jvmEncode(v, cb).zipWithIndex.map { case (code, s) =>
          val sub = cb(s).head.length
          jvmD2(qv.slice(s * sub, (s + 1) * sub), cb(s)(code))
        }.sum
        (n, d)
      }.sortBy { case (n, d) => (d, n) }.take(k)
      scored.zipWithIndex.map { case ((n, d), r) => (q, n, d, r + 1) }
    }

  test("adcTopK scores each corpus row on its own: a shared id is two neighbors, a null vector none") {
    val cb = Pq.train(df, "id", "v", d = 4, m = 2, k = 2, iters = 2)
    // id 1 again, with id 7's vector: two rows, two scores, never their sum
    val corpus = vecs :+ (1 -> vecs.toMap.apply(7))
    val withNull = createDf(spark, "id int, v array<bigint>",
      corpus.map { case (i, v) => Seq[Any](i, v) } :+ Seq[Any](9, null))
    val got = Pq.adcTopK(withNull, df.filter(col("id") <= 2), "id", "v", cb, topK = 20)
      .select(col("query_id"), col("neighbor_id"), col("approx_d2"), col("rank"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4))
    assert(got.toSeq == jvmAdcTopK(corpus, Seq(1, 2), cb, 20))
    assert(got.count(_._2 == 1) == 4 && !got.exists(_._2 == 9))
  }

  // subspace 0: ids 1 and 2 share their subvector, so in round 1 every
  // point ties to code 0 and code 1 empties there only; subspace 1 has
  // negative sums that do not divide evenly (the floor toward -inf)
  private val skewed: Seq[(Int, Seq[Long])] = Seq(
    1 -> Seq(5L, 5L, -3L, -7L),
    2 -> Seq(5L, 5L, 40L, 41L),
    3 -> Seq(6L, 4L, -5L, -8L),
    4 -> Seq(-1L, 9L, 38L, 46L),
    5 -> Seq(7L, 5L, -2L, -2L),
    6 -> Seq(3L, -8L, 43L, 39L),
  )

  /** The Lloyd contract on the JVM: the k smallest ids seed the centers,
    * ties go to the smaller code, means floor, an empty code keeps its
    * center.
    */
  private def jvmLloyd(vs: Seq[(Int, Seq[Long])], k: Int, iters: Int): IndexedSeq[Seq[Long]] = {
    val points = vs.sortBy(_._1).map(_._2)
    var c = points.take(k).toIndexedSeq
    for (_ <- 1 to iters) {
      val byCode = points.groupBy(v => c.indices.minBy(i => (jvmD2(v, c(i)), i)))
      c = c.indices.map(i => byCode.get(i).fold(c(i))(ps =>
        ps.transpose.map(xs => Math.floorDiv(xs.sum, ps.length.toLong))))
    }
    c
  }

  test("one-pass codebooks equal per-subspace kmeansIntWithCenters and the JVM Lloyd") {
    val d = createDf(spark, "id int, v array<bigint>", skewed.map { case (i, v) => Seq[Any](i, v) })
    for (m <- Seq(1, 2, 4); iters <- Seq(1, 2, 3)) {
      val sub = 4 / m
      val got = Pq.train(d, "id", "v", d = 4, m = m, k = 2, iters = iters)
      val perSubspace = (0 until m).map { s =>
        val sliced = d.select(col("id"), slice(col("v"), s * sub + 1, sub).as("sv"))
        Cluster.kmeansIntWithCenters(sliced, "id", "sv", k = 2, iters = iters)._2
      }
      val jvm = (0 until m).map(s =>
        jvmLloyd(skewed.map { case (i, v) => i -> v.slice(s * sub, (s + 1) * sub) }, 2, iters))
      assert(got == perSubspace, s"m=$m iters=$iters")
      assert(got == jvm, s"m=$m iters=$iters")
    }
    // the emptied code kept its seed in subspace 0 but moved in subspace 1
    val one = Pq.train(d, "id", "v", d = 4, m = 2, k = 2, iters = 1)
    assert(one(0)(1) == Seq(5L, 5L) && one(1)(1) != Seq(40L, 41L))
    assert(one(1)(0) == Seq(-4L, -6L), "(-10/3, -17/3) floors toward -inf")
  }

  test("train builds all m codebooks in iters + 2 Spark actions") {
    for (m <- Seq(1, 2, 4); iters <- Seq(1, 2))
      assert(SparkActions.count { Pq.train(df, "id", "v", d = 4, m = m, k = 2, iters = iters); () }
        == iters + 2, s"m=$m iters=$iters")
  }

  test("train releases its checkpointed input") {
    assert(SparkActions.leftPersisted(Pq.train(df, "id", "v", d = 4, m = 2, k = 2, iters = 2)).isEmpty)
  }
}
