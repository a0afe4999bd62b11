package graft

import org.apache.spark.sql.SparkSession

/** Degenerate-fixture generator for the oracle-robustness lint
  * (tools/degenerate_lint.py): writes EMPTY (n0/) and SINGLE-ROW (n1/)
  * versions of every test table, read through [[sources.Sources
  * .readTable]] (so the events `ts` physical-type handling is applied
  * once, here, and the derived fixtures are plain re-readable parquet).
  *
  * The lint class this feeds (VERDICT r13 #4): the int128 lint closed a
  * TYPE divergence class; the r12 ADVICE trio (unguarded divisions on
  * degenerate arms / empty tables) was a VALUE class fixed point-wise.
  * Running every registered query AND its oracle over these fixtures
  * surfaces the whole class: NaN/Inf poison one side emits and the
  * other doesn't, asymmetric failures, and empty-input value drift.
  *
  * Usage: DegenerateCorpus <srcDir> <outBase>  → <outBase>/n0, n1
  */
object DegenerateCorpus {

  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Write the n0 (empty) and n1 (single-row) variant of every table
    * under `outBase/n{0,1}/<table>.parquet` (DegenerateCorpusSpec
    * drives this directly; `main` owns the session lifecycle).
    */
  def write(spark: SparkSession, srcDir: String, outBase: String): Unit =
    for (n <- Seq(0, 1); tbl <- tables) {
      // orderBy before limit(1) so the single surviving row is the same
      // on every run regardless of parquet split planning
      val df = sources.Sources.readTable(spark, srcDir, tbl)
      val sorted =
        if (n == 0) df.limit(0)
        else df.orderBy(df.columns.map(org.apache.spark.sql.functions.col): _*).limit(n)
      sorted.coalesce(1).write.mode("overwrite")
        .parquet(s"$outBase/n$n/$tbl.parquet")
    }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: DegenerateCorpus <srcDir> <outBase>")
    val (srcDir, outBase) = (args(0), args(1))
    val spark = GraftSession.local("graft-degenerate-corpus")
    write(spark, srcDir, outBase)
    println(s"""{"degenerate_corpus":"$outBase","tables":${tables.size},"variants":["n0","n1"]}""")
    spark.stop()
  }
}
