package graft.testing

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Spark actions run on the shared test session by a block of code.
  *
  * A job counts once per action: jobs that share a SQL execution (the
  * query stages adaptive execution submits for one action) count as one.
  * How many stage jobs an action starts depends on which stage finishes
  * first, so the raw job total is not stable from run to run. A job
  * outside any SQL execution (such as Spark's parquet schema inference)
  * is an action of its own.
  */
object SparkActions {
  private object Jobs extends SparkListener {
    val n = new AtomicInteger
    private val executions = ConcurrentHashMap.newKeySet[String]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val exec = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.root.id"))
          .orElse(Option(p.getProperty("spark.sql.execution.id"))))
      if (exec.forall(executions.add)) n.incrementAndGet()
      ()
    }
  }
  private lazy val registered = { TestSpark.spark.sparkContext.addSparkListener(Jobs); true }

  /** Actions run by `body`, with the listener bus drained on both sides. */
  def count(body: => Unit): Int = {
    assert(registered)
    val sc = TestSpark.spark.sparkContext
    TestBus.drain(sc)
    val before = Jobs.n.get
    body
    TestBus.drain(sc)
    Jobs.n.get - before
  }
}
