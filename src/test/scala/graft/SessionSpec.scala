package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.testing.TestSpark

/** The one session policy: the test session is built by
  * `GraftSession.builder`, so tests plan what `Bench` times.
  */
class SessionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("the test session carries the library's session settings at 4 cores") {
    assert(spark.conf.get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.master == "local[4]")
  }

  test("dot_f64 resolves on a new session without registerFunctions (extensions injected)") {
    val fresh = spark.newSession()
    val d = fresh.sql("SELECT dot_f64(array(1.0d, 2.0d), array(3.0d, 4.0d))").head().getDouble(0)
    assert(d == 11.0)
  }

  test("SPARK_GRAFT_CPUS: unset is the host's core count; not a positive integer is rejected by name") {
    assert(GraftSession.cpusFrom(None) == Runtime.getRuntime.availableProcessors)
    assert(GraftSession.cpusFrom(Some("3")) == 3)
    for (bad <- Seq("0", "abc")) {
      val e = intercept[IllegalArgumentException](GraftSession.cpusFrom(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS") && e.getMessage.contains(s"'$bad'"))
    }
  }

  test("the registry merge names the keys two families share") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.merged("query", Seq(Map("q_a" -> 1, "q_b" -> 2), Map("q_b" -> 3, "q_c" -> 4)))
    }
    assert(e.getMessage.contains("q_b") && !e.getMessage.contains("q_a"))
    assert(SparkEntry.merged("query", Seq(Map("q_a" -> 1), Map("q_c" -> 4))) ==
      Map("q_a" -> 1, "q_c" -> 4))
  }
}
