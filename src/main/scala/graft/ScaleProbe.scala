package graft

import org.apache.spark.sql.functions._

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
  * Round sources per family:
  *   - connected components (q_dup_components, q_semdedup,
  *     q_group_split), k-core peel (q_kcore) and k-truss peel
  *     (q_ktruss): [[graft.ops.Observe.rounds]], which the shared
  *     fixpoint loop records under the operator's name at convergence;
  *   - GK / TPD / stationary (q_gk_index, q_tpd_index, q_stationary):
  *     the `iters_run` column those queries already emit as their
  *     convergence contract;
  *   - fixed-round by contract (q_lpa, q_modularity) and non-iterative
  *     spines (q_geks_index, q_geks_half, q_pagerank): timing only,
  *     rounds reported as the contractual constant or null.
  *
  * Timing protocol matches [[Bench]]: caches cleared before every run,
  * best-of-2, count() action. One JSON line on stdout.
  *
  * Usage: `sbt "runMain graft.ScaleProbe /root/testdata/sf0.1"`, then
  * the same against the scaled dir. The session is
  * [[GraftSession.local]]: `local[n]` with `n` = `SPARK_GRAFT_CPUS`,
  * else the host's core count, so reproducing BASELINE.md's `local[32]`
  * decade protocol needs `SPARK_GRAFT_CPUS=32`.
  */
object ScaleProbe {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ScaleProbe <dataDir> [query...]")
    val dir = args(0)
    val spark = GraftSession.local("graft-scale-probe")
    spark.range(1000).selectExpr("sum(id)").collect()

    // (query, how to read its round count after a run)
    def fixpointRounds(loop: String) = () => graft.ops.Observe.rounds.get(loop).map(_.toLong)
    val componentRounds = fixpointRounds("connectedComponents")
    val kcoreRounds = fixpointRounds("kCore")
    val ktrussRounds = fixpointRounds("kTruss")
    val noRounds = () => Option.empty[Long]
    val defaults: Seq[(String, () => Option[Long])] = Seq(
      "q_dup_components" -> componentRounds,
      "q_semdedup" -> componentRounds,
      "q_group_split" -> componentRounds,
      "q_kcore" -> kcoreRounds,
      "q_ktruss" -> ktrussRounds,
      "q_gk_index" -> noRounds,     // iters_run column
      "q_tpd_index" -> noRounds,    // iters_run column
      "q_stationary" -> noRounds,   // iters_run column
      "q_lpa" -> noRounds,          // fixed 4 by contract
      "q_modularity" -> noRounds,   // fixed 4 by contract
      "q_geks_index" -> noRounds,
      "q_geks_half" -> noRounds,
      "q_pagerank" -> noRounds)
    // explicit names probe ANY registered query (round counts only for
    // the known iterative families); no names = the iterative defaults
    val wanted: Seq[(String, () => Option[Long])] =
      if (args.length > 1) args.tail.toSeq.map { n =>
        require(SparkEntry.queries.contains(n), s"unknown query: $n")
        n -> defaults.toMap.getOrElse(n, noRounds)
      }
      else defaults

    val out = scala.collection.mutable.LinkedHashMap.empty[String, String]
    for ((name, roundsOf) <- wanted) {
      val fn = SparkEntry.queries(name)
      // count()-prunable queries (see Bench.countPrunableQueries) force
      // through the noop sink so the decade tables measure real work
      val force: org.apache.spark.sql.DataFrame => Unit =
        if (Bench.countPrunableQueries.contains(name))
          df => df.write.format("noop").mode("overwrite").save()
        else df => { df.count(); () }
      val times = (1 to 2).map { _ =>
        Caches.clearAll()
        val t0 = System.nanoTime()
        force(fn(spark, dir))
        (System.nanoTime() - t0) / 1e9
      }
      // iters_run-emitting queries: read the max emitted count (one
      // extra cheap run; caches already warm is fine — rounds are what
      // we're after, and they're load-independent)
      val df = fn(spark, dir)
      val rounds: Option[Long] =
        if (df.columns.contains("iters_run"))
          Option(df.agg(max(col("iters_run"))).head().get(0))
            .map(_.asInstanceOf[Number].longValue())
        else roundsOf()
      out(name) = f"""{"sec":${times.min}%.2f,"rounds":${rounds.map(_.toString).getOrElse("null")}}"""
    }
    spark.stop()
    println(s"""{"dir":"$dir","per_query":{${out.map { case (k, v) => s""""$k":$v""" }.mkString(",")}}}""")
  }
}
