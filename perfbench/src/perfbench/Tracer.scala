package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job as the traced run saw it. `span` is the benchmark's own
  * `call:phase` label, carried to the job through a local property, so a
  * job is attributed to the call and phase whose driver thread submitted
  * it (AQE stage jobs inherit the property from the thread that spawned
  * them). `execution` is the SQL execution id, shared by an action's
  * result job and the AQE stage jobs it spawned.
  */
final class JobRec(val id: Int, val startMs: Long, val site: String, val span: String,
                   val execution: String) {
  var endMs: Long = startMs
  var stages = 0
  var tasks = 0
  var taskCpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  def seconds: Double = (endMs - startMs) / 1e3
  def file: String = JobRec.fileOf(site)
}

object JobRec {
  /** Source file of a call site: "parquet at Sources.scala:31" -> "Sources.scala". */
  def fileOf(site: String): String =
    site.split(" at ").lastOption.map(_.takeWhile(_ != ':')).getOrElse("")
}

/** Counts every pass makes, traced or not: Spark jobs started and bytes
  * shuffled (written plus read). One counter per event, no spans.
  */
final class Counter extends SparkListener {
  @volatile var jobs = 0
  @volatile var shuffleBytes = 0L
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    Option(e.stageInfo.taskMetrics).foreach { m =>
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead
    }
  }
}

/** Listener pair registered by the traced run only: a SparkListener for
  * jobs, stages, tasks and cached blocks, and a QueryExecutionListener
  * that counts the SQL actions each phase ran. Everything stays in memory
  * until the pass ends.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  val SpanKey = "perfbench.span"
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val blockBytes = mutable.HashMap.empty[String, Long]
  private var cachedBytes = 0L
  private var peakCached = 0L
  private var actions = 0
  private val executionSites = mutable.HashMap.empty[String, String]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // The result stage is created last and is named after the job's call site.
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
    val rec = new JobRec(e.jobId, e.time, site, prop(SpanKey), prop("spark.sql.execution.id"))
    jobs(e.jobId) = rec
    e.stageIds.foreach(stageJob(_) = rec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stageJob.get(si.stageId).foreach { j =>
      j.stages += 1
      j.tasks += si.numTasks
      Option(si.taskMetrics).foreach { m =>
        j.taskCpuNs += m.executorCpuTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  // An SQL execution starts on the driver thread that ran the action, and
  // its description is that thread's call site, which the execution's AQE
  // stage jobs do not carry themselves.
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { executionSites(s.executionId.toString) = s.description }
    case _ =>
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val now = info.memSize + info.diskSize
      cachedBytes += now - blockBytes.getOrElse(key, 0L)
      if (now == 0L) blockBytes.remove(key) else blockBytes(key) = now
      peakCached = math.max(peakCached, cachedBytes)
    }
  }

  // Fired from the listener bus after each action: the Pass drains the
  // bus at every phase boundary, so the running totals read there are exact.
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    countAction()
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    countAction()
  private def countAction(): Unit = synchronized { actions += 1 }

  def jobList: Seq[JobRec] = synchronized(jobs.values.toSeq)
  /** Call site of the action that started an SQL execution. */
  def executionSite(id: String): String = synchronized(executionSites.getOrElse(id, ""))
  def peakCachedBytes: Long = synchronized(peakCached)
  /** SQL actions run so far. */
  def actionCount: Int = synchronized(actions)
}
