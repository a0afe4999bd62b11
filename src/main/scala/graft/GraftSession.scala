package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

import graft.plans.GraftExtensions

/** The library's one session policy: every entry point (`Bench`,
  * `Verify`, `Explain`, `ScaleProbe`, `ScaleCorpus`, `DegenerateCorpus`),
  * the test session and perfbench build through [[builder]], so a plan
  * that is shown or tested is the plan that is timed.
  *
  * Settings chosen for the 100 TB posture: AQE on (runtime re-planning,
  * skew-join splitting, partition coalescing), AQE may right-size the
  * partitioning of persisted intermediates, shuffle partitions sized to
  * the parallelism at hand rather than Spark's default 200 (callers on a
  * real cluster should pass `shufflePartitions ≈ 2-3× total cores` and let
  * AQE coalesce down), UTC session time, and the library's extensions
  * (SQL-registered native expressions) injected. [[local]] adds the
  * host-sized master, UI off and WARN logging for the mains (ERROR for
  * the checkpoint-release warning).
  */
object GraftSession {

  def builder(appName: String = "graft",
              master: Option[String] = None,
              shufflePartitions: Option[Int] = None): SparkSession.Builder = {
    val b = SparkSession.builder()
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // persisted intermediates (iterative panels, ANN cells) get
      // AQE-right-sized partitioning instead of pinning
      // shuffle.partitions tasks per pass at any data size
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
    master.foreach(b.master)
    shufflePartitions.foreach(n => b.config("spark.sql.shuffle.partitions", n.toString))
    b
  }

  /** Local session for the mains: `local[n]` with `n` shuffle
    * partitions, where `n` is `SPARK_GRAFT_CPUS` or, unset, the host's
    * core count. UI off, log level WARN.
    */
  def local(appName: String): SparkSession = {
    val cpus = cpusFrom(sys.env.get("SPARK_GRAFT_CPUS"))
    val spark = builder(appName, Some(s"local[$cpus]"), Some(cpus))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    quietCheckpointRelease()
    spark
  }

  /** Spark warns on every release of a local checkpoint that its lineage
    * was truncated; `Observe.release` frees them on purpose, so that
    * logger is kept at ERROR.
    */
  private[graft] def quietCheckpointRelease(): Unit =
    Configurator.setLevel("org.apache.spark.rdd.MapPartitionsRDD", Level.ERROR)

  /** `SPARK_GRAFT_CPUS` as a core count: a positive integer, or the
    * host's core count when unset.
    */
  private[graft] def cpusFrom(env: Option[String]): Int = env match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(v) => v.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
  }

  /** Register the library's SQL functions on an ALREADY-RUNNING session
    * (extensions only apply to sessions built through the builder).
    */
  def registerFunctions(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction(
      "dot_f64", graft.functions.FunctionBuilders.dotF64, "scala_udf")
    reg.createOrReplaceTempFunction(
      "minhash_sig", graft.functions.FunctionBuilders.minhashSig, "scala_udf")
    reg.createOrReplaceTempFunction(
      "simhash32", graft.functions.FunctionBuilders.simhash32, "scala_udf")
    reg.createOrReplaceTempFunction(
      "shingle_hash64", graft.functions.FunctionBuilders.shingleHash64, "scala_udf")
  }
}
