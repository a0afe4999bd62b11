package graft.testing

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Spark actions run on the shared test session by a block of code, and
  * the persistent RDDs it leaves behind.
  *
  * A job counts once per action: jobs that share a SQL execution (the
  * query stages adaptive execution submits for one action) count as one.
  * How many stage jobs an action starts depends on which stage finishes
  * first, so the raw job total is not stable from run to run. A job
  * outside any SQL execution (such as Spark's parquet schema inference)
  * is an action of its own. [[jobs]] counts raw jobs instead, for a
  * difference between two runs of one shape whose stage graph is a
  * single chain.
  */
object SparkActions {
  private object Jobs extends SparkListener {
    val n = new AtomicInteger
    val raw = new AtomicInteger
    private val executions = ConcurrentHashMap.newKeySet[String]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      raw.incrementAndGet()
      val exec = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.root.id"))
          .orElse(Option(p.getProperty("spark.sql.execution.id"))))
      if (exec.forall(executions.add)) n.incrementAndGet()
      ()
    }
  }
  private lazy val registered = { TestSpark.spark.sparkContext.addSparkListener(Jobs); true }

  /** Actions run by `body`, with the listener bus drained on both sides. */
  def count(body: => Unit): Int = counted(Jobs.n)(body)

  /** Raw Spark jobs started by `body`, every query stage its own job. */
  def jobs(body: => Unit): Int = counted(Jobs.raw)(body)

  /** Ids of the persistent RDDs (cached or checkpointed, not released)
    * that `body` left behind.
    */
  def leftPersisted(body: => Any): Set[Int] = {
    val sc = TestSpark.spark.sparkContext
    val held = sc.getPersistentRDDs.keySet.toSet
    body
    sc.getPersistentRDDs.keySet.toSet -- held
  }

  private def counted(c: AtomicInteger)(body: => Unit): Int = {
    assert(registered)
    val sc = TestSpark.spark.sparkContext
    TestBus.drain(sc)
    val before = c.get
    body
    TestBus.drain(sc)
    c.get - before
  }
}
