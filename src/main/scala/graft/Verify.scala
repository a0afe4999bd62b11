package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names — run (and emit
    // oracles for) just that subset, for fast local iteration
    val subset = args.lift(2).map(_.split(",").toSet)
    // a typo'd name must fail loudly — a silent no-op would leave stale
    // parquet beside a pruned oracle map and corrupt the compare
    subset.foreach { s =>
      val unknown = s -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    }
    val selected = subset.fold(SparkEntry.queries)(s => SparkEntry.queries.filter(kv => s(kv._1)))
    val spark = GraftSession.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    // A query that throws is ABSENT from the compare — make that loss
    // loud: collect every failure into a manifest beside the dumps so
    // "141 of 151 present" can never read as "all green" (the r06 trap).
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failures(name) = s"${e.getClass.getSimpleName}: " +
          Jsons.truncAtCodePoint(Option(e.getMessage).getOrElse(""), 300)
        System.err.println(s"[verify] $name FAILED: ${failures(name)}")
        // opt-in full trace (SPARK_GRAFT_STACKTRACE=1): the manifest keeps
        // messages short for the driver, but a truncated message alone can
        // hide WHERE a degenerate-input crash originates
        if (sys.env.get("SPARK_GRAFT_STACKTRACE").contains("1"))
          e.printStackTrace(System.err)
      }
    }
    // JSON string escape ([[Jsons]], shared with Bench): backslash, quote,
    // and ALL control chars (<0x20) — a tab or CR in builder-authored SQL
    // would otherwise make the driver's json.load fail and silently zero
    // the round's correctness.
    def q(s: String): String = Jsons.jstr(s)
    val json = SparkEntry.oracleSql
      .filter(kv => subset.forall(_(kv._1)))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failJson = failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_verify_failures.json"), failJson)
    // Engine provenance sidecar (adjudication aid): which Spark/Scala/JVM
    // produced these parquet dumps. A separate file — NOT a key inside
    // oracle_sql.json — because the driver iterates oracle keys as SQL and
    // an unmatched key would read as a failed query. The comparing DuckDB
    // records its own version (tools/compare_oracle.py prints it).
    val meta = Seq(
      "spark_version" -> spark.version,
      "scala_version" -> scala.util.Properties.versionNumberString,
      "java_version" -> sys.props.getOrElse("java.version", "unknown"),
      "n_queries" -> selected.size.toString)
    Files.writeString(Paths.get(s"$outDir/_meta.json"),
      meta.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} of ${selected.size} queries FAILED: " +
        failures.keys.toSeq.sorted.mkString(", "))
    spark.stop()
  }
}
