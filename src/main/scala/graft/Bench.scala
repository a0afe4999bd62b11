package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** Queries whose work `count()` under-forces, re-timed through the
    * noop DSv2 sink (recorded BESIDE the anchor, never in the total —
    * anchor comparability). Two shapes:
    *   - pure projections (q_classify, q_jl, q_array_diff — the
    *     BASELINE r9 note): count() column-prunes the per-row
    *     expression work to scan+sort;
    *   - rewrite queries ending in a LEFT join whose right side is an
    *     aggregate ON the join key (q_span_mask, q_substr_cut):
    *     provably unique key + unreferenced columns under count() ⇒
    *     Catalyst ELIMINATES the join, and the whole dedup census
    *     behind it (measured: q_substr_cut 0.5s flat from sf0.1 to
    *     ×100 under count() vs the 2-22s its subsumed inventory pass
    *     costs). PlanSpec pins the elimination.
    * Shared with ScaleProbe so ×10/×100 decade tables force honestly.
    */
  val countPrunableQueries: Seq[String] =
    Seq("q_classify", "q_jl", "q_array_diff", "q_span_mask", "q_substr_cut")
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-bench")
    // Warm the session (codegen, parquet footer reads) outside the timings.
    spark.range(1000).selectExpr("sum(id)").collect()
    SparkEntry.entry(spark).count()
    // Optional args: bench only the named queries (tuning loop; such runs
    // are labeled metric:"subset", never "total"). The default set
    // excludes the containment validation queries — they re-run operator
    // + exact baseline as a correctness gate and are not workload; the
    // exclusion is declared in the output line.
    val unknown = args.toSet -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
    val selected = if (args.nonEmpty) SparkEntry.queries.view.filterKeys(args.contains).toMap
      else SparkEntry.queries.view.filterKeys(!SparkEntry.validationQueries.contains(_)).toMap
    // Best of two runs per query: the first run also warms per-query
    // codegen/file listings; min-of-N is the standard noise filter.
    // A query that throws on ANY run is a FAILURE, never a timing:
    // recording its time-to-exception (often <0.1s) — or, for a flaky
    // query, the surviving run's time — would masquerade as a speedup
    // and silently corrupt the total (the r06 trap). Failures are named
    // in the metric line and excluded from per_query AND the total, so
    // "failed" and "n"/"value" can never double-count one query.
    //
    // CACHE HONESTY: operator-level memo caches (GEKS pair table,
    // deterministic IVF, k-means cells) are CLEARED before every timed
    // run, so min-of-2 is a cold time and recorded seconds equal work
    // performed — best-of-2 over a warm cache recorded 0.34s against a
    // 10.3s wall span in round 7. The train-once amortization is still
    // measured: any query that populates a memo (detected generically —
    // caches are empty before the run, so a non-zero count after it
    // names the query) gets ONE extra cache-warm run, reported in the
    // separate "warm" map and never counted in the total.
    val benchStartMs = System.currentTimeMillis()
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val warmTimes = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val wallClock = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double)]
    // 1-min load at each query's START, so a contention window is
    // refutable from the JSON alone (the judge's round-over-round
    // protocol) instead of needing a matched-load re-run.
    val loadAt = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def loadNow: Double =
      try java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage catch { case _: Throwable => -1.0 }
    def timed(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
              name: String): Option[Double] = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
      catch {
        case e: Throwable =>
          failures.getOrElseUpdate(name, s"${e.getClass.getSimpleName}: " +
            Jsons.truncAtCodePoint(Option(e.getMessage).getOrElse(""), 160))
          None
      }
    }
    // Stall canary (r12 VERDICT #2): a FIXED null-work probe — pure
    // codegen'd CPU over an in-memory range, no I/O, no shuffle reads —
    // timed at bench start, every `canaryEvery` queries, and at the end.
    // Its time can only move with host contention, so a driver-run whose
    // wall-clock dwarfs its summed query time now carries the stall
    // evidence INSIDE the artifact (canary_max/canary_min in the final
    // metric line) instead of needing an out-of-band matched-load rerun.
    val canary = scala.collection.mutable.ListBuffer.empty[(Double, Double)]
    def runCanary(): Unit = {
      val t0 = System.nanoTime()
      spark.range(0L, 20000000L, 1L, 32).selectExpr("sum(id * 3 + 1)").collect()
      canary += (((System.currentTimeMillis() - benchStartMs) / 1e3,
        (System.nanoTime() - t0) / 1e9))
    }
    val canaryEvery = 25
    // one unrecorded warmup so sample 1 measures the host, not codegen
    spark.range(0L, 20000000L, 1L, 32).selectExpr("sum(id * 3 + 1)").collect()
    runCanary()
    var sinceCanary = 0
    val results = selected.flatMap { case (name, fn) =>
      val startS = (System.currentTimeMillis() - benchStartMs) / 1e3
      loadAt(name) = loadNow
      val times = (1 to 2).flatMap { _ => Caches.clearAll(); timed(fn, name) }
      if (times.nonEmpty && Caches.totalEntries > 0)
        timed(fn, name).foreach(w => warmTimes(name) = w) // memo left warm by run 2
      wallClock(name) = (startS, (System.currentTimeMillis() - benchStartMs) / 1e3)
      sinceCanary += 1
      if (sinceCanary >= canaryEvery) { sinceCanary = 0; runCanary() }
      if (times.size < 2 || failures.contains(name)) None else Some(name -> times.min)
    }
    runCanary()
    // Null-sink pass — see countPrunableQueries' doc for the two
    // count()-prunable shapes (pure projections; unique-keyed left-join
    // rewrites whose census count() join-eliminates).
    val nullSinkQueries = countPrunableQueries
    val nullSink = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    nullSinkQueries.filter(selected.contains).foreach { name =>
      val fn = selected(name)
      val times = (1 to 2).flatMap { _ =>
        Caches.clearAll()
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case _: Throwable => None }
      }
      if (times.size == 2) nullSink(name) = times.min
    }
    def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def jstr(s: String): String = Jsons.jstr(s)
    val qs = results.toSeq.sortBy(_._1)
      .map { case (k, v) => jstr(k) + ":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // 1-minute load average: round-over-round comparisons need to know
    // whether the box was busy (±20% noise observed under load).
    val load = try java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage catch { case _: Throwable => -1.0 }
    val metric = if (args.nonEmpty) "subset" else "total"
    val nExcluded = (SparkEntry.validationQueries -- selected.keySet).size
    // The harness captures a bounded TAIL of stdout (~1.8 KB). At 108
    // timed queries the old single line was ~3.3 KB: the tail kept its
    // end but lost its head, so the driver parsed nothing two rounds
    // running (BENCH_r03/r04 "parsed": null). The fix is structural:
    //   line 1: the full per-query map, keyed "per_query" (NOT "metric",
    //           so a truncated fragment can never shadow the real line),
    //           plus per-query wall-clock [start,end] offsets (seconds
    //           since bench start) so an external contention window is
    //           visible in the data, plus the "warm" cache-hit times for
    //           memoizing queries; also written to bench_queries.json;
    //   line 2 (LAST): a short metric line that always survives the tail.
    val wall = wallClock.toSeq.sortBy(_._1)
      .map { case (k, (s, e)) => jstr(k) + s":[${fmt(s)},${fmt(e)}]" }
      .mkString("{", ",", "}")
    val warm = warmTimes.toSeq.sortBy(_._1)
      .map { case (k, v) => jstr(k) + ":" + fmt(v) }
      .mkString("{", ",", "}")
    val failedJson = failures.toSeq
      .map { case (k, msg) => jstr(k) + ":" + jstr(msg) }
      .mkString("{", ",", "}")
    val loads = loadAt.toSeq.sortBy(_._1)
      .map { case (k, v) => jstr(k) + ":" + fmt(v) }
      .mkString("{", ",", "}")
    val sinkMap = nullSink.toSeq.sortBy(_._1)
      .map { case (k, v) => jstr(k) + ":" + fmt(v) }
      .mkString("{", ",", "}")
    val canaries = canary.toSeq
      .map { case (at, s) => s"[${fmt(at)},${fmt(s)}]" }
      .mkString("[", ",", "]")
    // Self-defending norms (VERDICT r13 #1): the table carries its OWN
    // calm verdict, so a contended run can never be committed as "calm
    // norms" again without the file itself saying otherwise. The calm
    // rule is the documented BASELINE one (start load < 2, no canary
    // sample >= 2s); suspects are queries whose wall window is far wider
    // than their timed min (the q_stump/q_lift steal-pocket signature:
    // 298s of wall for 89s recorded) — per-query flags for pockets the
    // sparse canary can miss.
    val startLoad = loadAt.values.headOption.getOrElse(-1.0)
    val canaryMaxV = if (canary.isEmpty) 0.0 else canary.map(_._2).max
    val calm = startLoad >= 0 && startLoad < 2.0 && canaryMaxV < 2.0
    val suspects = results.keys.toSeq.sorted.filter { q =>
      val (s, e) = wallClock(q)
      (e - s) > 3.0 * results(q) + 5.0
    }
    val suspectsJson = suspects.map(jstr).mkString("[", ",", "]")
    val perQueryLine =
      s"""{"per_query":$qs,"warm":$warm,"null_sink":$sinkMap,"load_at_start":$loads,"wall_clock":$wall,"canary":$canaries,"calm":$calm,"calm_rule":"start_load<2 && canary_max<2s","suspect_queries":$suspectsJson,"failed_detail":$failedJson,"sf":"$sfDir","metric_of":"$metric"}"""
    // Subset (tuning-loop) runs write a SIDE file: the committed norms
    // are full-workload numbers, and a 1-query probe must never clobber
    // them (it did once — the calm 408-row table had to be recovered
    // from the run log)
    val normsFile =
      if (metric == "total") "bench_queries.json" else "bench_subset.json"
    try {
      val w = new java.io.PrintWriter(normsFile, "UTF-8")
      try w.println(perQueryLine) finally w.close()
    } catch { case _: Throwable => () } // file is best-effort; stdout is the contract
    println(perQueryLine)
    val failedNames = failures.keys.toSeq.sorted.map(jstr).mkString("[", ",", "]")
    // Canary + load summaries in the FINAL line (the one that always
    // survives the harness's stdout tail): canary_max >> canary_min, or
    // load_max >> load, IS the in-artifact proof of a host stall.
    val cTimes = canary.map(_._2)
    val canarySummary =
      if (cTimes.isEmpty) """"canary_n":0"""
      else s""""canary_n":${cTimes.size},"canary_min":${fmt(cTimes.min)},"canary_max":${fmt(cTimes.max)}"""
    val loadMax = (loadAt.values ++ Seq(load)).max
    println(s"""{"metric":"$metric","value":${fmt(total)},"unit":"sec","n":${results.size},"failed":$failedNames,"sf":"$sfDir","load":${fmt(load)},"load_max":${fmt(loadMax)},$canarySummary,"calm":$calm,"suspect_n":${suspects.size},"excluded_validation_n":$nExcluded,"queries":"$normsFile"}""")
    spark.stop()
  }
}
