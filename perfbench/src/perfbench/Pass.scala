package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import graft.{Caches, GraftSession, SparkEntry}

/** One pass of one workload in a fresh JVM, the way a `spark-submit`
  * pipeline job runs: build the session through `GraftSession.builder`,
  * make the calls in the order given, force each result through one
  * fingerprint aggregate, and print one JSON record of the pass as the
  * last stdout line. `perfbench/run.py` starts several passes per
  * benchmark run and reports their medians.
  *
  * Arguments (all `--key value`): workload, calls (comma-separated, in
  * run order; `ingest.*` names are the [[Ingest]] steps), data (table
  * directory), work (scratch directory the pass may write), seed (picks
  * the ingest batches), cpus, trace (0|1), spans (JSON-lines file written
  * by a traced pass), probe (1: stop once set up, recording only the
  * set-up times; run.py samples set-up several times per pass this way),
  * go (if not empty, wait after set-up until this file exists).
  */
object Pass {

  final case class Call(name: String, warm: Boolean, ok: Boolean, rows: Long, hash: String,
                        constructS: Double, planS: Double, execS: Double, error: String,
                        t0Ms: Long, t1Ms: Long, t2Ms: Long, t3Ms: Long) {
    def seconds: Double = constructS + planS + execS
  }

  /** Queries whose output also yields a retrieval-quality figure. */
  private val recallOf: Map[String, (String, Column)] = Map(
    "q_lsh_recall" -> ("text.recall_lsh", max(col("c2"))),
    "q_pq_recall" -> ("text.recall_pq", sum(col("c1")) / (count(lit(1)) * 5)),
    "q_sq8_recall" -> ("text.recall_sq8", sum(col("c1")) / (count(lit(1)) * 5)))

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val data = opt("data")
    val work = opt("work")
    val seed = opt("seed").toLong
    val cpus = opt("cpus").toInt
    val traced = opt("trace") == "1"
    val callNames = opt.getOrElse("calls", "").split(',').toSeq.filter(_.nonEmpty)

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val tb = System.nanoTime()
    val spark = GraftSession.builder("perfbench", Some(s"local[$cpus]"), Some(cpus))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    val buildS = (System.nanoTime() - tb) / 1e9
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val counter = new Counter
    sc.addSparkListener(counter)
    val tracer = if (traced) {
      val t = new Tracer
      sc.addSparkListener(t)
      spark.listenerManager.register(t)
      Some(t)
    } else None
    spark.range(1000).selectExpr("sum(id)").collect()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    if (opt.get("probe").contains("1"))
      exit(mutable.LinkedHashMap[String, Any]("setup_s" -> setupS, "session.build_s" -> buildS,
        "end_ms" -> System.currentTimeMillis()))
    // The probes set up beside this JVM; the pass starts once they have ended.
    opt.get("go").filter(_.nonEmpty).foreach { go =>
      val until = System.currentTimeMillis() + 150000L
      while (!new java.io.File(go).exists()) {
        if (System.currentTimeMillis() > until) {
          System.err.println(s"perfbench: no go file $go")
          Runtime.getRuntime.halt(1)
        }
        Thread.sleep(10)
      }
    }

    def canary(): Double = {
      val t = System.nanoTime()
      spark.range(0L, 1000000L, 1L, cpus).selectExpr("sum(id * 3 + 1)").collect()
      (System.nanoTime() - t) / 1e9
    }
    canary()
    val canaries = mutable.ArrayBuffer(canary())

    val registry = SparkEntry.queries
    val ingest = if (callNames.exists(_.startsWith("ingest."))) Some(new Ingest(spark, data, work, seed))
      else None
    val ingestSteps = ingest.map(_.steps.toMap).getOrElse(Map.empty)
    val calls = mutable.ArrayBuffer.empty[Call]
    val recall = mutable.LinkedHashMap.empty[String, Double]
    var rddsHeld = 0
    var cacheEntries = 0
    def setSpan(s: String): Unit = tracer.foreach(t => sc.setLocalProperty(t.SpanKey, s))
    def mark(): Int = tracer.map { t => PerfbenchBus.drain(sc); t.actionCount }.getOrElse(0)
    val actionsByPhase = mutable.LinkedHashMap.empty[String, Int]

    /** Time one call as construct -> plan -> execute. `construct` builds
      * the result; `check` names an extra aggregate riding the fingerprint.
      */
    def timeCall(name: String, warm: Boolean, check: Option[Column])
                (construct: => DataFrame): Option[org.apache.spark.sql.Row] = {
      val idx = calls.size
      def phase(p: String): Unit = if (traced) {
        actionsByPhase(s"$idx:$p") = mark()
        setSpan(s"$idx:$p")
      }
      phase("construct")
      val t0 = System.nanoTime(); val t0Ms = System.currentTimeMillis()
      var t1 = t0; var t2 = t0; var t1Ms = t0Ms; var t2Ms = t0Ms
      try {
        val df = construct
        t1 = System.nanoTime(); t1Ms = System.currentTimeMillis()
        phase("plan")
        val fp = fingerprint(df, check)
        fp.queryExecution.executedPlan
        t2 = System.nanoTime(); t2Ms = System.currentTimeMillis()
        phase("execute")
        val row = fp.collect().head
        val t3 = System.nanoTime()
        calls += Call(name, warm, ok = true, row.getLong(0), String.valueOf(row.get(1)),
          (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, "",
          t0Ms, t1Ms, t2Ms, System.currentTimeMillis())
        Some(row)
      } catch {
        case e: Throwable =>
          val t3 = System.nanoTime()
          val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
          calls += Call(name, warm, ok = false, -1L, "", (t1 - t0) / 1e9, (t2 - t1) / 1e9,
            (t3 - t2) / 1e9, msg.take(300), t0Ms, t1Ms, t2Ms, System.currentTimeMillis())
          None
      } finally {
        if (traced) { mark(); setSpan(null) }
        rddsHeld = math.max(rddsHeld, sc.getPersistentRDDs.size)
        cacheEntries = math.max(cacheEntries, Caches.totalEntries)
      }
    }

    // The JIT still holds compile work from set-up, more of it when the
    // probes set up beside this JVM; the pass starts once it has drained,
    // so its CPU is the pass's own.
    jitIdle()
    val tIdle = System.currentTimeMillis()
    PerfbenchBus.drain(sc)
    val (jobs0, shuffle0) = (counter.jobs, counter.shuffleBytes)
    val steal0 = hostStealS()
    val (jit0, gc0) = jitGcCpuS()
    val cpu0 = processCpuNs()
    val codegen0 = codegenTotals()
    val w0 = System.nanoTime()
    Caches.clearAll()
    callNames.foreach { name =>
      ingestSteps.get(name) match {
        case Some(step) => timeCall(name, warm = false, None)(step())
        case None =>
          val fn = registry(name)
          val before = Caches.totalEntries
          val check = recallOf.get(name).map(_._2)
          timeCall(name, warm = false, check)(fn(spark, data)).foreach { row =>
            recallOf.get(name).foreach { case (metric, _) => recall(metric) = row.getDouble(2) }
          }
          // A call that filled an operator memo is re-issued once warm
          // (the same generic detection graft.Bench uses).
          if (Caches.totalEntries > before) timeCall(name, warm = true, check)(fn(spark, data))
      }
    }
    val wallS = (System.nanoTime() - w0) / 1e9
    val cpuS = (processCpuNs() - cpu0) / 1e9
    val stealS = hostStealS() - steal0
    val (jit1, gc1) = jitGcCpuS()
    val codegen1 = codegenTotals()
    PerfbenchBus.drain(sc)
    val (jobs1, shuffle1) = (counter.jobs, counter.shuffleBytes)
    val tPost = System.currentTimeMillis()
    canaries += canary()
    val tCanary = System.currentTimeMillis()
    val expected = ingest.map(_.expected()).getOrElse(Map.empty)
    val tExpected = System.currentTimeMillis()

    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "setup_s" -> setupS, "wall_s" -> wallS, "cpu_s" -> cpuS,
      "peak_rss_mb" -> peakRssMb(),
      "spark_jobs" -> (jobs1 - jobs0), "shuffle_bytes" -> (shuffle1 - shuffle0),
      "jvm.jit_s" -> (jit1 - jit0), "jvm.gc_s" -> (gc1 - gc0),
      "host.steal_s" -> stealS,
      "host.canary_s" -> median(canaries.toSeq),
      "session.build_s" -> buildS,
      "storage.rdds_held" -> rddsHeld,
      "caches.entries" -> cacheEntries,
      "codegen.classes" -> (codegen1._1 - codegen0._1),
      "codegen.compile_s" -> (codegen1._2 - codegen0._2))
    out ++= recall
    val warmCalls = calls.filter(_.warm)
    if (warmCalls.nonEmpty) {
      val cold = calls.filter(c => !c.warm && warmCalls.exists(_.name == c.name))
      out("caches.warm_over_cold") = warmCalls.map(_.seconds).sum / cold.map(_.seconds).sum
    }
    ingest.foreach(ing => out ++= ing.metrics(calls.filter(c => ing.writeSteps(c.name)).map(_.seconds).sum))
    tracer.foreach { t =>
      PerfbenchBus.drain(sc)
      out ++= Layers.summarize(calls.toSeq, t, actionsByPhase.toMap,
        ingest.map(_.writeSteps).getOrElse(Set.empty))
      opt.get("spans").foreach(p => Layers.writeSpans(p, calls.toSeq, t))
    }
    out("calls") = calls.map { c =>
      mutable.LinkedHashMap[String, Any]("name" -> c.name, "warm" -> c.warm, "ok" -> c.ok,
        "rows" -> c.rows, "hash" -> c.hash, "s" -> c.seconds, "construct_s" -> c.constructS,
        "plan_s" -> c.planS, "exec_s" -> c.execS, "error" -> c.error,
        "expect" -> expected.get(c.name).orNull)
    }.toSeq
    val tOut = System.currentTimeMillis()
    spark.stop()
    out("end_ms") = System.currentTimeMillis()
    // where a run's time goes outside set-up and the pass
    out("marks_ms") = mutable.LinkedHashMap("jvm_start" -> jvmStartMs, "jit_idle" -> tIdle,
      "pass_end" -> tPost,
      "canary_end" -> tCanary, "expected_end" -> tExpected, "record_end" -> tOut)
    exit(out)
  }

  /** Print the record and exit without shutdown hooks: run.py removes the
    * work directory, so the hooks would only repeat that cleanup, and
    * Hadoop's hook manager can wait out a 30 s timeout doing it.
    */
  private def exit(record: scala.collection.Map[String, Any]): Nothing = {
    println(Json.render(record))
    System.out.flush()
    System.err.flush()
    Runtime.getRuntime.halt(0)
    throw new IllegalStateException("halt returned")
  }

  /** Row count plus the sum of a 64-bit hash over every output column, as
    * one aggregate: every column of the result must be computed, which
    * `count()` alone would let Catalyst prune away. The sum runs in
    * decimal so it cannot overflow under ANSI mode.
    */
  def fingerprint(df: DataFrame, check: Option[Column]): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => to_json(col(f.name))
        case _ => col(f.name)
      }
    }
    val aggs = Seq(count(lit(1)).as("rows"),
      sum(xxhash64(cols: _*).cast("decimal(38,0)")).cast("string").as("hash")) ++
      check.map(_.cast("double").as("check"))
    named.agg(aggs.head, aggs.tail: _*)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** CPU seconds (user + sys) of this JVM's JIT compiler threads and GC
    * threads, from /proc/self/task (Linux; zeros elsewhere). run.py keeps
    * the compiler threads alive for the whole run, so the sums are complete.
    */
  private def jitGcCpuS(): (Double, Double) =
    try {
      val per = new java.io.File("/proc/self/task").listFiles().toSeq.flatMap { t =>
        try {
          val stat = new String(java.nio.file.Files.readAllBytes(new java.io.File(t, "stat").toPath))
          val name = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          Some(name -> (f(11).toDouble + f(12).toDouble) / 100.0)
        } catch { case _: Exception => None }
      }
      (per.filter(_._1.contains("CompilerThre")).map(_._2).sum,
        per.filter(p => p._1.startsWith("GC Thread") || p._1.startsWith("G1 ")).map(_._2).sum)
    } catch { case _: Exception => (0.0, 0.0) }

  /** Wait until the JIT compiler threads have used at most one 10 ms
    * clock tick of CPU in each of two consecutive 250 ms windows, or 15 s
    * have passed.
    */
  private def jitIdle(): Unit = {
    val until = System.currentTimeMillis() + 15000L
    var last = jitGcCpuS()._1
    var quiet = 0
    while (quiet < 2 && System.currentTimeMillis() < until) {
      Thread.sleep(250)
      val now = jitGcCpuS()._1
      quiet = if (now - last < 0.015) quiet + 1 else 0
      last = now
    }
  }

  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Host-wide steal time in seconds (all CPUs), from /proc/stat. */
  private def hostStealS(): Double =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try f.getLines().next().trim.split("\\s+").lift(8).map(_.toDouble / 100.0).getOrElse(0.0)
      finally f.close()
    } catch { case _: Exception => 0.0 }

  private def peakRssMb(): Double =
    try {
      val f = scala.io.Source.fromFile("/proc/self/status")
      try f.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
      finally f.close()
    } catch { case _: Exception => 0.0 }

  /** (classes compiled, seconds compiling) from Spark's CodegenMetrics.
    * The histogram's reservoir keeps every sample up to 1028 of them;
    * past that the seconds are count x mean.
    */
  private def codegenTotals(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    val ms = if (h.getCount <= 1028) snap.getValues.sum.toDouble else h.getCount * snap.getMean
    (h.getCount, ms / 1e3)
  }
}
