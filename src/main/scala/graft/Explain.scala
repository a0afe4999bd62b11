package graft

/** Plan auditor: prints the formatted physical plan for each registered
  * query (or the ones named in args) so scan pruning, pushed filters,
  * broadcast choices, and WholeStageCodegen spans can be reviewed.
  *
  * Usage: runMain graft.Explain [--final] [sfDir] [queryName...]
  *
  * `--final` EXECUTES each query first and prints the adaptive plan
  * after runtime re-optimization — the only view that shows AQE's
  * actual decisions (ReusedExchange, runtime broadcast promotion,
  * coalesced partitions), which the static `explain` cannot.
  */
object Explain {
  def main(rawArgs: Array[String]): Unit = {
    val showFinal = rawArgs.contains("--final")
    val args = rawArgs.filterNot(_ == "--final")
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.local("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      println(s"\n========== $name ==========")
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        // collect() executes THIS df's plan (count() would wrap it in a
        // new Aggregate plan, leaving this one un-executed and the
        // adaptive plan un-finalized); registered results are small by
        // contract (Verify coalesces them to one parquet)
        if (showFinal) { df.collect(); println(df.queryExecution.executedPlan.toString) }
        else df.explain("formatted")
      } catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
