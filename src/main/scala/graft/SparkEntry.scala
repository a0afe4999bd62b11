package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — one runnable query per implemented operator from
  * SURVEY.md §2, each paired with DuckDB oracle SQL in [[oracleSql]].
  *
  * Determinism conventions (the driver hash-compares against DuckDB):
  *   - every query ends in an orderBy on unique keys, mirrored in the oracle;
  *   - double aggregations go through exact decimal sums
  *     (`sum(cast(x as decimal))`) and cast back to double, so partial-agg
  *     ordering can never change the result;
  *   - timestamps in outputs are formatted as strings (parquet/duckdb
  *     timestamp-zone semantics differ).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_join_agg")(spark, "/root/testdata/sf0.001")

  type Query = (SparkSession, String) => DataFrame

  /** Every family registry, each holding its own defs + oracle SQL. */
  private val families: Seq[(Map[String, Query], Map[String, String])] = Seq(
    PriceQueries.queries -> PriceQueries.oracleSql,
    StatsQueries.queries -> StatsQueries.oracleSql,
    CoreQueries.queries -> CoreQueries.oracleSql,
    EventQueries.queries -> EventQueries.oracleSql,
    JoinQueries.queries -> JoinQueries.oracleSql,
    TextQueries.queries -> TextQueries.oracleSql,
    DedupQueries.queries -> DedupQueries.oracleSql,
    EmbedQueries.queries -> EmbedQueries.oracleSql,
    GraphQueries.queries -> GraphQueries.oracleSql,
    SamplingQueries.queries -> SamplingQueries.oracleSql,
    MultimodalQueries.queries -> MultimodalQueries.oracleSql,
  )

  /** Union of per-family maps; a key in two families (which `++` would
    * silently resolve last-wins) fails construction, naming the keys.
    */
  private[graft] def merged[V](what: String, maps: Seq[Map[String, V]]): Map[String, V] = {
    val dups = maps.flatMap(_.keys).groupBy(identity).collect { case (k, ks) if ks.size > 1 => k }
    require(dups.isEmpty, s"duplicate $what name(s) across family registries: ${dups.toSeq.sorted.mkString(", ")}")
    maps.reduce(_ ++ _)
  }

  /** One runnable query per implemented operator — the union of the
    * per-family registries.
    */
  lazy val queries: Map[String, Query] = merged("query", families.map(_._1))

  /** Correctness-gate queries: each re-runs a scale-path operator AND its
    * exact baseline to assert a containment invariant (violations = 0).
    * They are part of the verified surface ([[queries]]/[[oracleSql]])
    * but are validation harnesses, not workload queries — [[Bench]]
    * excludes them from the timed set (explicitly, in its JSON output)
    * so bench totals stay comparable with the recorded baseline's
    * workload mix.
    */
  val validationQueries: Set[String] =
    Set("q_lsh_containment", "q_ann_containment", "q_minhash_containment", "q_quantize",
      "q_dup_components", "q_bucketed_join", "q_cms", "q_ivf_exact",
      "q_simhash_containment", "q_fingerprint_containment", "q_quantile_bound",
      "q_hll_merge", "q_weighted_sample", "q_hh_containment", "q_joinsize_bound",
      "q_rolling_hll", "q_compact_audit", "q_lsh_recall", "q_pq_recall",
      "q_sq8_recall")

  /** DuckDB oracle SQL per query — the union of the per-family maps. */
  lazy val oracleSql: Map[String, String] = merged("oracle", families.map(_._2))
}
