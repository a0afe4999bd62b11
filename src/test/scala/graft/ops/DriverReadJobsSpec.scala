package graft.ops

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.testing.{SparkActions, TestSpark}
import graft.testing.DfAssert.createDf
import graft.text.Similarity

/** Raw Spark jobs of the values operators read on the driver while they
  * build their result ([[Observe]]'s driver-read rule): a global aggregate
  * is one observed job, a small ordered table is its exchange plus the
  * collect. Every query stage is a job of its own under AQE, so an
  * aggregate exchange or a sort put back in front of one of these reads
  * shows here as a changed count.
  */
class DriverReadJobsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def vectors = createDf(spark, "id bigint, v array<double>",
    Seq(Seq[Any](1L, Seq(1.0, 0.0)), Seq[Any](2L, Seq(0.8, 0.6)),
      Seq[Any](3L, Seq(0.0, 1.0)), Seq[Any](4L, Seq(-0.6, 0.8))))

  test("a logisticNewton round runs one Spark job") {
    val d = createDf(spark, "x double, y boolean",
      Seq((0.0, false), (1.0, false), (1.5, true), (2.0, false), (3.0, true), (4.0, true))
        .map { case (x, y) => Seq[Any](x, y) })
    def jobs(iterations: Int): Int = SparkActions.jobs {
      Regression.logisticNewton(d, col("y"), col("x"), iterations = iterations)
      ()
    }
    assert(jobs(5) - jobs(4) == 1)
  }

  test("sq8Audit reads its per-dimension bounds in two Spark jobs") {
    assert(SparkActions.jobs { Similarity.sq8Audit(vectors, "id", "v"); () } == 2)
  }

  test("hubnessAudit's panel-size guard runs one Spark job") {
    assert(SparkActions.jobs { Similarity.hubnessAudit(vectors, "id", "v", k = 1); () } == 1)
  }
}
