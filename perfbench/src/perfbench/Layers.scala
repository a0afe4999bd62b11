package perfbench

import scala.collection.mutable

/** Per-layer figures of a traced pass, computed from the benchmark's own
  * call spans (construct / plan / execute) and the jobs the Tracer saw.
  * A job belongs to the phase whose driver thread submitted it, and to a
  * library module when its call site, or the call site of the action that
  * started its SQL execution, names one of the files below. (Adaptive
  * query stages, the result stage included, run as jobs with a thread-pool
  * call site, `CompletableFuture.java`.)
  */
object Layers {

  /** Call-site file -> module metric prefix. */
  val modules: Seq[(String, String)] = Seq(
    "Graph.scala" -> "ops.Graph", "PriceIndex.scala" -> "ops.PriceIndex",
    "Stats.scala" -> "ops.Stats", "Regression.scala" -> "ops.Regression",
    "Dedup.scala" -> "text.Dedup", "Cluster.scala" -> "text.Cluster",
    "Similarity.scala" -> "text.Similarity", "Pq.scala" -> "text.Pq")

  val phases: Seq[String] = Seq("construct", "plan", "execute")

  /** The module file a job is attributed to, or "" for none. */
  def moduleFile(j: JobRec, tracer: Tracer): String = {
    val files = modules.map(_._1).toSet
    Seq(j.file, JobRec.fileOf(tracer.executionSite(j.execution))).find(files).getOrElse("")
  }

  private def phaseOf(j: JobRec): String = j.span.dropWhile(_ != ':').drop(1)
  private def callOf(j: JobRec): Int = j.span.takeWhile(_ != ':').toInt

  /** Seconds of [lo, hi] covered by the union of the jobs' intervals. */
  private def covered(js: Seq[JobRec], lo: Long, hi: Long): Double = {
    var end = lo
    var sum = 0L
    js.map(j => (math.max(j.startMs, lo), math.min(j.endMs, hi))).sortBy(_._1).foreach {
      case (s, e) =>
        val s1 = math.max(s, end)
        if (e > s1) { sum += e - s1; end = e }
    }
    sum / 1e3
  }

  private def phaseBounds(c: Pass.Call, p: String): (Long, Long, Double) = p match {
    case "construct" => (c.t0Ms, c.t1Ms, c.constructS)
    case "plan" => (c.t1Ms, c.t2Ms, c.planS)
    case _ => (c.t2Ms, c.t3Ms, c.execS)
  }

  def summarize(calls: Seq[Pass.Call], tracer: Tracer,
                actionMarks: Map[String, Int], writeSteps: Set[String]): Map[String, Any] = {
    val jobs = tracer.jobList.filter(_.span.contains(':'))
    val byPhase = jobs.groupBy(phaseOf).withDefaultValue(Nil)
    val out = mutable.LinkedHashMap.empty[String, Any]
    out("queries.construct_s") = calls.map(_.constructS).sum
    out("queries.construct_jobs") = byPhase("construct").size
    // SQL actions (QueryExecutionListener) run while the call was built.
    out("queries.construct_actions") = calls.indices.flatMap { i =>
      actionMarks.get(s"$i:plan").map(_ - actionMarks(s"$i:construct"))
    }.sum
    out("plan.s") = calls.map(_.planS).sum
    out("exec.s") = calls.map(_.execS).sum
    out("exec.jobs") = byPhase("execute").size
    out("exec.stages") = jobs.map(_.stages).sum
    out("exec.tasks") = jobs.map(_.tasks).sum
    out("exec.task_cpu_s") = jobs.map(_.taskCpuNs).sum / 1e9
    out("exec.shuffle_write_bytes") = jobs.map(_.shuffleWrite).sum
    out("exec.shuffle_read_bytes") = jobs.map(_.shuffleRead).sum
    out("exec.spill_bytes") = jobs.map(_.spill).sum
    val reads = jobs.filter(j => j.file == "Sources.scala" && !writeSteps(calls(callOf(j)).name))
    out("sources.read_jobs") = reads.size
    out("sources.read_job_s") = reads.map(_.seconds).sum
    modules.foreach { case (file, m) =>
      val js = jobs.filter(moduleFile(_, tracer) == file)
      out(s"$m.jobs") = js.size
      out(s"$m.job_s") = js.map(_.seconds).sum
    }
    // Self time: the part of each phase no Spark job of that call covers.
    phases.foreach { p =>
      out(s"self.${p}_s") = calls.zipWithIndex.map { case (c, i) =>
        val (lo, hi, secs) = phaseBounds(c, p)
        secs - covered(jobs.filter(j => j.span == s"$i:$p"), lo, hi)
      }.sum
    }
    out("storage.peak_cached_bytes") = tracer.peakCachedBytes
    out.toMap
  }

  /** Write every span of the pass as JSON lines: call -> phase -> job.
    * Spans of one call share its `trace` id; `parent` links them.
    */
  def writeSpans(path: String, calls: Seq[Pass.Call], tracer: Tracer): Unit = {
    val lines = mutable.ArrayBuffer.empty[String]
    val jobsBySpan = tracer.jobList.groupBy(_.span)
    calls.zipWithIndex.foreach { case (c, i) =>
      lines += Json.render(mutable.LinkedHashMap[String, Any]("trace" -> i, "id" -> s"$i",
        "parent" -> null, "kind" -> "call", "name" -> c.name, "warm" -> c.warm, "ok" -> c.ok,
        "start_ms" -> c.t0Ms, "end_ms" -> c.t3Ms))
      phases.foreach { p =>
        val (lo, hi, _) = phaseBounds(c, p)
        lines += Json.render(mutable.LinkedHashMap[String, Any]("trace" -> i, "id" -> s"$i.$p",
          "parent" -> s"$i", "kind" -> "phase", "name" -> p, "start_ms" -> lo, "end_ms" -> hi))
        jobsBySpan.getOrElse(s"$i:$p", Nil).foreach { j =>
          lines += Json.render(mutable.LinkedHashMap[String, Any]("trace" -> i,
            "id" -> s"$i.$p.j${j.id}", "parent" -> s"$i.$p", "kind" -> "job", "name" -> j.site,
            "file" -> j.file, "module" -> moduleFile(j, tracer),
            "start_ms" -> j.startMs, "end_ms" -> j.endMs,
            "stages" -> j.stages, "tasks" -> j.tasks, "task_cpu_s" -> j.taskCpuNs / 1e9,
            "shuffle_write_bytes" -> j.shuffleWrite, "shuffle_read_bytes" -> j.shuffleRead,
            "spill_bytes" -> j.spill))
        }
      }
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
