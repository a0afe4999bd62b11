package graft

/** Scaling-point probe for the ITERATIVE operator families (VERDICT r10
  * #3): measures, at whatever corpus directory it is pointed at, both
  * the wall time AND the data-dependent ROUND COUNT of every iterative
  * operator — the one cost a ×10 table can't stress, because rounds grow
  * with log(diameter) / peeling depth / convergence tolerance rather
  * than row count. Run it once on sf0.1 and once on a
  * [[ScaleCorpus]]-derived ×100 corpus; if the round counts hold flat
  * while rows grow 100×, the log-diameter/bounded-sweep design claims
  * are pinned with data.
  *
  * Rounds come from one source, [[graft.ops.Observe.rounds]]: every
  * driver loop (`Observe.iterate`, and the `Observe.fixpoint` loops of
  * connected components, k-core and k-truss built on it) records the
  * rounds it ran under its loop name. The record is cleared before each
  * run, so a query reports `"rounds": {loop: n}` for every loop its last
  * run took, and `{}` for a query with no driver loop (the fixed-round
  * `cadence` loops of q_lpa, q_modularity and q_pagerank, and the
  * non-iterative GEKS spines, are timing only).
  *
  * Timing protocol matches [[Bench]]: caches cleared before every run,
  * best-of-2, count() action. One JSON line on stdout.
  *
  * Usage: `sbt "runMain graft.ScaleProbe /root/testdata/sf0.1"`, then
  * the same against the scaled dir; names after the directory probe any
  * registered queries instead of the iterative defaults. The session is
  * [[GraftSession.local]]: `local[n]` with `n` = `SPARK_GRAFT_CPUS`,
  * else the host's core count, so reproducing BASELINE.md's `local[32]`
  * decade protocol needs `SPARK_GRAFT_CPUS=32`.
  */
object ScaleProbe {

  /** The iterative queries probed when no names are given. */
  private val defaults = Seq("q_dup_components", "q_semdedup", "q_group_split", "q_kcore",
    "q_ktruss", "q_gk_index", "q_tpd_index", "q_stationary", "q_lpa", "q_modularity",
    "q_geks_index", "q_geks_half", "q_pagerank")

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ScaleProbe <dataDir> [query...]")
    val dir = args(0)
    val wanted = if (args.length > 1) args.tail.toSeq else defaults
    wanted.foreach(n => require(SparkEntry.queries.contains(n), s"unknown query: $n"))
    val spark = GraftSession.local("graft-scale-probe")
    spark.range(1000).selectExpr("sum(id)").collect()

    val out = scala.collection.mutable.LinkedHashMap.empty[String, String]
    for (name <- wanted) {
      val fn = SparkEntry.queries(name)
      // count()-prunable queries (see Bench.countPrunableQueries) force
      // through the noop sink so the decade tables measure real work
      val force: org.apache.spark.sql.DataFrame => Unit =
        if (Bench.countPrunableQueries.contains(name))
          df => df.write.format("noop").mode("overwrite").save()
        else df => { df.count(); () }
      val times = (1 to 2).map { _ =>
        Caches.clearAll()
        graft.ops.Observe.rounds.clear()
        val t0 = System.nanoTime()
        force(fn(spark, dir))
        (System.nanoTime() - t0) / 1e9
      }
      val rounds = graft.ops.Observe.rounds.toSeq.sorted
        .map { case (loop, n) => s""""$loop":$n""" }.mkString("{", ",", "}")
      out(name) = f"""{"sec":${times.min}%.2f,"rounds":$rounds}"""
    }
    spark.stop()
    println(s"""{"dir":"$dir","per_query":{${out.map { case (k, v) => s""""$k":$v""" }.mkString(",")}}}""")
  }
}
