package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructType}

import graft.multimodal.Multimodal
import graft.ops.{AsOf, Columns, Concat, Grouped, Merge, Pack, Profile, RangeJoin, Reshape, Sampling, Skew, Timeseries}
import graft.streaming.Streaming
import graft.text.{Boilerplate, Cluster, Dedup, Dsir, LangModel, Pq, Rank, Similarity, TextStats}

import graft.queries.Qh.{t, dsum}

/** Graph family: PageRank, triangle counting, k-core over the events-derived interaction graph.
  *
  * Query defs + their DuckDB oracle SQL, split out of the former
  * monolithic SparkEntry (registry semantics unchanged — the maps merge
  * in [[graft.SparkEntry]]).
  */
object GraphQueries {

  /** Integer-exact PageRank ([[graft.ops.Graph.pageRank]]) over the
    * supplier co-occurrence graph (suppliers of consecutive lines in an
    * order). Every division is a truncating integer `div` in fixed
    * order, so 5 distributed iterations hash-match the oracle's
    * unrolled CTE chain exactly — float PageRank never could.
    */
  private def qPagerank(s: SparkSession, dir: String): DataFrame = {
    // (orderkey, linenumber) is NOT unique in this data; ordering by the
    // suppkey too makes the per-order supplier SEQUENCE deterministic
    // (ties beyond the suppkey cannot change it)
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_suppkey"))
    val edges = t(s, dir, "lineitem")
      .select(col("l_suppkey").as("src"),
        lead(col("l_suppkey"), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull && col("src") =!= col("dst"))
    graft.ops.Graph.pageRank(edges, "src", "dst", iterations = 5)
      .orderBy(col("node"))
  }

  /** Oracle for [[qPagerank]]: the identical integer recurrence with the
    * iteration loop unrolled into chained CTEs (DuckDB's recursive CTEs
    * allow only one self-reference, which the nodes-left-join shape
    * needs twice).
    */
  private def pagerankOracleSql: String = {
    val base = "((1000000000000 * 15) // 100) // (SELECT n FROM cnt)"
    val iters = (1 to 5).map { i =>
      s"""pr$i AS (
         |  SELECT nd.node, $base + (85 * COALESCE(c.m, 0)) // 100 AS rank
         |  FROM nodes nd LEFT JOIN (
         |    SELECT e.dst AS node, sum(p.rank // od.d) AS m
         |    FROM e JOIN pr${i - 1} p ON e.src = p.node JOIN od ON od.src = e.src
         |    GROUP BY e.dst) c ON nd.node = c.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH nxt AS (
       |  SELECT l_suppkey AS src,
       |    lead(l_suppkey) OVER (PARTITION BY l_orderkey
       |                          ORDER BY l_linenumber, l_suppkey) AS dst
       |  FROM lineitem),
       |e AS (SELECT DISTINCT src, dst FROM nxt WHERE dst IS NOT NULL AND src <> dst),
       |nodes AS (SELECT DISTINCT src AS node FROM e UNION SELECT DISTINCT dst FROM e),
       |cnt AS (SELECT count(*) AS n FROM nodes),
       |od AS (SELECT src, count(*) AS d FROM e GROUP BY src),
       |pr0 AS (SELECT node, 1000000000000 // (SELECT n FROM cnt) AS rank FROM nodes),
       |$iters
       |SELECT node, CAST(rank AS BIGINT) AS rank FROM pr5 ORDER BY node""".stripMargin
  }

  /** Personalized PageRank
    * ([[graft.ops.Graph.personalizedPageRank]]): restart mass on the
    * suppkey%7==0 seed set over the supplier co-sequence graph —
    * "important relative to these seeds", same exact-integer recurrence
    * as qPagerank with the base term gated on seed membership.
    */
  private def qPpr(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_suppkey"))
    val li = t(s, dir, "lineitem")
    val edges = li
      .select(col("l_suppkey").as("src"),
        lead(col("l_suppkey"), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull && col("src") =!= col("dst"))
    val seeds = li.select(col("l_suppkey").as("node")).distinct()
      .filter(col("node") % 7 === 0)
    graft.ops.Graph.personalizedPageRank(edges, "src", "dst", seeds, "node",
        iterations = 5)
      .orderBy(col("node"))
  }

  /** Bounded-hop multi-source BFS ([[graft.ops.Graph.bfsDistances]]):
    * hop distance from the suppkey%7 seed set over the supplier
    * co-sequence graph, 4 hops out — the blast-radius query (who is
    * within k trades of these suppliers?) beside q_ppr's stationary
    * importance. Confluent integer min-lattice rounds; the unrolled
    * oracle replays each frontier exactly.
    */
  private def qBfs(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_suppkey"))
    val li = t(s, dir, "lineitem")
    val edges = li
      .select(col("l_suppkey").as("src"),
        lead(col("l_suppkey"), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull && col("src") =!= col("dst"))
    val seeds = li.select(col("l_suppkey").as("node")).distinct()
      .filter(col("node") % 7 === 0)
    graft.ops.Graph.bfsDistances(edges, "src", "dst", seeds, "node",
        maxHops = 4)
      .orderBy(col("node"))
  }

  /** Bounded-hop closeness centrality ([[graft.ops.Graph
    * .closenessCentrality]]): harmonic + Bavelas closeness for the
    * suppkey%23 seed panel over the supplier co-sequence graph, 4 hops
    * out — "how central are THESE accounts", the per-seed reduction of
    * q_bfs's frontier machinery (per-seed state, k·V bounded, same
    * confluent min-lattice rounds the unrolled oracle replays).
    */
  private def qCloseness(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_suppkey"))
    val li = t(s, dir, "lineitem")
    val edges = li
      .select(col("l_suppkey").as("src"),
        lead(col("l_suppkey"), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull && col("src") =!= col("dst"))
    val seeds = li.select(col("l_suppkey").as("node")).distinct()
      .filter(col("node") % 23 === 0)
    graft.ops.Graph.closenessCentrality(edges, "src", "dst", seeds, "node",
        maxHops = 4)
      .orderBy(col("seed"))
  }

  /** Seed-panel eccentricity ([[graft.ops.Graph.eccentricity]]): the
    * worst-case hop radius of each suppkey%37==3 seed's 4-hop ball over
    * the supplier co-sequence graph — q_closeness's max-distance
    * sibling (radius/diameter lower bounds for the panel), same
    * frontier-BFS rounds, all-integer output (no float surface). The
    * unrolled oracle replays each frontier exactly.
    */
  private def qEccentricity(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_suppkey"))
    val li = t(s, dir, "lineitem")
    val edges = li
      .select(col("l_suppkey").as("src"),
        lead(col("l_suppkey"), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull && col("src") =!= col("dst"))
    val seeds = li.select(col("l_suppkey").as("node")).distinct()
      .filter(col("node") % 37 === 3)
    graft.ops.Graph.eccentricity(edges, "src", "dst", seeds, "node",
        maxHops = 4)
      .orderBy(col("seed"))
  }

  private def eccentricityOracleSql: String = {
    val iters = (1 to 4).map { i =>
      s"""d$i AS (
         |  SELECT seed, node, MIN(dist) AS dist FROM (
         |    SELECT seed, node, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT p.seed, e.dst AS node, p.dist + 1 AS dist
         |    FROM e JOIN d${i - 1} p ON e.src = p.node)
         |  GROUP BY seed, node)""".stripMargin
    }.mkString(",\n")
    s"""WITH nxt AS (
       |  SELECT l_suppkey AS src,
       |    lead(l_suppkey) OVER (PARTITION BY l_orderkey
       |                          ORDER BY l_linenumber, l_suppkey) AS dst
       |  FROM lineitem),
       |e AS (SELECT DISTINCT src, dst FROM nxt WHERE dst IS NOT NULL AND src <> dst),
       |d0 AS (
       |  SELECT DISTINCT l_suppkey AS seed, l_suppkey AS node, 0 AS dist
       |  FROM lineitem WHERE l_suppkey % 37 = 3),
       |$iters
       |SELECT seed, COUNT(*) AS n_reached,
       |  CAST(MAX(dist) AS BIGINT) AS eccentricity,
       |  MAX(dist) = 4 AS truncated
       |FROM d4 GROUP BY seed ORDER BY seed""".stripMargin
  }

  /** Seed-sampled betweenness ([[graft.ops.Graph.betweenness]]):
    * Brandes dependency accumulation from the fixed suppkey<=7 panel over
    * the supplier co-sequence graph, 3-hop ball — which suppliers do
    * trade paths FUNNEL through (the brokerage readout q_pagerank's
    * stationary mass and q_closeness's distances cannot give). Exact σ
    * path counts forward, exact integral `(σ_v·(10⁹+δ_w)) div σ_w`
    * terms backward; the oracle replays all forward levels and both
    * backward sweeps CTE-for-CTE. All-BIGINT output.
    */
  private def qBetweenness(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_suppkey"))
    val li = t(s, dir, "lineitem")
    val edges = li
      .select(col("l_suppkey").as("src"),
        lead(col("l_suppkey"), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull && col("src") =!= col("dst"))
    val seeds = li.select(col("l_suppkey").as("node")).distinct()
      .filter(col("node") <= 7)
    graft.ops.Graph.betweenness(edges, "src", "dst", seeds, "node",
        maxHops = 3)
      .orderBy(col("node"))
  }

  private def betweennessOracleSql: String = {
    def antiSeen(levels: Seq[String]): String = levels.map { l =>
      s"NOT EXISTS (SELECT 1 FROM $l s WHERE s.seed = p.seed AND s.node = e.dst)"
    }.mkString("\n    AND ")
    s"""WITH nxt AS (
       |  SELECT l_suppkey AS src,
       |    lead(l_suppkey) OVER (PARTITION BY l_orderkey
       |                          ORDER BY l_linenumber, l_suppkey) AS dst
       |  FROM lineitem),
       |e AS (SELECT DISTINCT src, dst FROM nxt WHERE dst IS NOT NULL AND src <> dst),
       |l0 AS (
       |  SELECT DISTINCT l_suppkey AS seed, l_suppkey AS node,
       |    CAST(1 AS HUGEINT) AS sig
       |  FROM lineitem WHERE l_suppkey <= 7),
       |l1 AS MATERIALIZED (
       |  SELECT p.seed, e.dst AS node, SUM(p.sig) AS sig
       |  FROM e JOIN l0 p ON e.src = p.node
       |  WHERE ${antiSeen(Seq("l0"))}
       |  GROUP BY 1, 2),
       |l2 AS MATERIALIZED (
       |  SELECT p.seed, e.dst AS node, SUM(p.sig) AS sig
       |  FROM e JOIN l1 p ON e.src = p.node
       |  WHERE ${antiSeen(Seq("l0", "l1"))}
       |  GROUP BY 1, 2),
       |l3 AS MATERIALIZED (
       |  SELECT p.seed, e.dst AS node, SUM(p.sig) AS sig
       |  FROM e JOIN l2 p ON e.src = p.node
       |  WHERE ${antiSeen(Seq("l0", "l1", "l2"))}
       |  GROUP BY 1, 2),
       |d3 AS (SELECT seed, node, CAST(0 AS BIGINT) AS dlt FROM l3),
       |t2 AS (
       |  SELECT l2.seed, l2.node,
       |    SUM((l2.sig * (1000000000 + d3.dlt)) // w3.sig) AS sm
       |  FROM e JOIN l3 w3 ON e.dst = w3.node
       |  JOIN d3 ON d3.seed = w3.seed AND d3.node = w3.node
       |  JOIN l2 ON l2.seed = w3.seed AND l2.node = e.src
       |  GROUP BY 1, 2),
       |d2 AS (
       |  SELECT l2.seed, l2.node, CAST(COALESCE(t2.sm, 0) AS BIGINT) AS dlt
       |  FROM l2 LEFT JOIN t2 ON t2.seed = l2.seed AND t2.node = l2.node),
       |t1 AS (
       |  SELECT l1.seed, l1.node,
       |    SUM((l1.sig * (1000000000 + d2.dlt)) // w2.sig) AS sm
       |  FROM e JOIN l2 w2 ON e.dst = w2.node
       |  JOIN d2 ON d2.seed = w2.seed AND d2.node = w2.node
       |  JOIN l1 ON l1.seed = w2.seed AND l1.node = e.src
       |  GROUP BY 1, 2),
       |d1 AS (
       |  SELECT l1.seed, l1.node, CAST(COALESCE(t1.sm, 0) AS BIGINT) AS dlt
       |  FROM l1 LEFT JOIN t1 ON t1.seed = l1.seed AND t1.node = l1.node),
       |allc AS (
       |  SELECT * FROM d1 UNION ALL SELECT * FROM d2 UNION ALL SELECT * FROM d3)
       |SELECT node, COUNT(*) AS n_seeds,
       |  CAST(SUM(CAST(dlt AS HUGEINT)) AS BIGINT) AS bc_nano
       |FROM allc GROUP BY node ORDER BY node""".stripMargin
  }

  private def closenessOracleSql: String = {
    val iters = (1 to 4).map { i =>
      s"""d$i AS (
         |  SELECT seed, node, MIN(dist) AS dist FROM (
         |    SELECT seed, node, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT p.seed, e.dst AS node, p.dist + 1 AS dist
         |    FROM e JOIN d${i - 1} p ON e.src = p.node)
         |  GROUP BY seed, node)""".stripMargin
    }.mkString(",\n")
    s"""WITH nxt AS (
       |  SELECT l_suppkey AS src,
       |    lead(l_suppkey) OVER (PARTITION BY l_orderkey
       |                          ORDER BY l_linenumber, l_suppkey) AS dst
       |  FROM lineitem),
       |e AS (SELECT DISTINCT src, dst FROM nxt WHERE dst IS NOT NULL AND src <> dst),
       |d0 AS (
       |  SELECT DISTINCT l_suppkey AS seed, l_suppkey AS node, 0 AS dist
       |  FROM lineitem WHERE l_suppkey % 23 = 0),
       |$iters,
       |agg AS (
       |  SELECT seed, COUNT(*) AS n_reached,
       |    SUM(CAST(dist AS HUGEINT)) AS sd,
       |    SUM(CASE WHEN dist > 0
       |      THEN CAST(round(1000000000.0 / CAST(dist AS DOUBLE)) AS HUGEINT)
       |      ELSE 0 END) AS h
       |  FROM d4 GROUP BY 1)
       |SELECT seed, n_reached, CAST(sd AS BIGINT) AS sum_dist,
       |  round(CAST(h AS DOUBLE) / 1000000000.0, 6) AS harmonic,
       |  CASE WHEN sd > 0 THEN
       |    round(CAST(n_reached - 1 AS DOUBLE) / CAST(sd AS DOUBLE), 6)
       |  END AS closeness
       |FROM agg ORDER BY seed""".stripMargin
  }

  private def bfsOracleSql: String = {
    val iters = (1 to 4).map { i =>
      s"""d$i AS (
         |  SELECT node, MIN(dist) AS dist FROM (
         |    SELECT node, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT e.dst AS node, p.dist + 1 AS dist
         |    FROM e JOIN d${i - 1} p ON e.src = p.node)
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH nxt AS (
       |  SELECT l_suppkey AS src,
       |    lead(l_suppkey) OVER (PARTITION BY l_orderkey
       |                          ORDER BY l_linenumber, l_suppkey) AS dst
       |  FROM lineitem),
       |e AS (SELECT DISTINCT src, dst FROM nxt WHERE dst IS NOT NULL AND src <> dst),
       |d0 AS (
       |  SELECT DISTINCT l_suppkey AS node, 0 AS dist FROM lineitem
       |  WHERE l_suppkey % 7 = 0),
       |$iters
       |SELECT node, CAST(dist AS BIGINT) AS dist FROM d4 ORDER BY node""".stripMargin
  }

  private def pprOracleSql: String = {
    val base = "(((1000000000000 * 15) // 100) // (SELECT ns FROM nsrc)) * f.isrc"
    val iters = (1 to 5).map { i =>
      s"""pr$i AS (
         |  SELECT f.node, f.isrc, $base + (85 * COALESCE(c.m, 0)) // 100 AS rank
         |  FROM flg f LEFT JOIN (
         |    SELECT e.dst AS node, sum(p.rank // od.d) AS m
         |    FROM e JOIN pr${i - 1} p ON e.src = p.node JOIN od ON od.src = e.src
         |    GROUP BY e.dst) c ON f.node = c.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH nxt AS (
       |  SELECT l_suppkey AS src,
       |    lead(l_suppkey) OVER (PARTITION BY l_orderkey
       |                          ORDER BY l_linenumber, l_suppkey) AS dst
       |  FROM lineitem),
       |e AS (SELECT DISTINCT src, dst FROM nxt WHERE dst IS NOT NULL AND src <> dst),
       |nodes AS (SELECT DISTINCT src AS node FROM e UNION SELECT DISTINCT dst FROM e),
       |seeds AS (SELECT DISTINCT l_suppkey AS node FROM lineitem WHERE l_suppkey % 7 = 0),
       |flg AS (
       |  SELECT n.node, CASE WHEN s.node IS NOT NULL THEN 1 ELSE 0 END AS isrc
       |  FROM nodes n LEFT JOIN seeds s ON n.node = s.node),
       |nsrc AS (SELECT SUM(isrc) AS ns FROM flg),
       |od AS (SELECT src, count(*) AS d FROM e GROUP BY src),
       |pr0 AS (
       |  SELECT node, isrc,
       |    (1000000000000 * isrc) // (SELECT ns FROM nsrc) AS rank
       |  FROM flg),
       |$iters
       |SELECT node, CAST(rank AS BIGINT) AS rank FROM pr5 ORDER BY node""".stripMargin
  }

  /** Label-propagation communities
    * ([[graft.ops.Graph.labelPropagation]]) on the undirected supplier
    * co-sequence graph (qPagerank's edges, orientation dropped): 4
    * synchronous rounds, (max count, min label) votes — the oracle
    * unrolls the identical rounds with the kmeans-style
    * `min([-c, label])` lexicographic argmin.
    */
  private def qLpa(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_suppkey"))
    val edges = t(s, dir, "lineitem")
      .select(col("l_suppkey").as("src"),
        lead(col("l_suppkey"), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull && col("src") =!= col("dst"))
    graft.ops.Graph.labelPropagation(edges, "src", "dst", rounds = 4)
      .orderBy(col("node"))
  }

  private def lpaOracleSql(rounds: Int): String = {
    val iters = (1 to rounds).map { i =>
      s"""l$i AS (
         |  SELECT node, CAST(min([-c, label])[2] AS BIGINT) AS label FROM (
         |    SELECT d.node, l.label, COUNT(*) AS c
         |    FROM d JOIN l${i - 1} l ON d.nbr = l.node GROUP BY 1, 2)
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH nxt AS (
       |  SELECT l_suppkey AS src,
       |    lead(l_suppkey) OVER (PARTITION BY l_orderkey
       |                          ORDER BY l_linenumber, l_suppkey) AS dst
       |  FROM lineitem),
       |e0 AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |  FROM nxt WHERE dst IS NOT NULL AND src <> dst),
       |d AS (SELECT u AS node, v AS nbr FROM e0 UNION ALL SELECT v, u FROM e0),
       |l0 AS (SELECT DISTINCT node, node AS label FROM d),
       |$iters
       |SELECT node, label FROM l$rounds ORDER BY node""".stripMargin
  }

  /** Community quality ([[graft.ops.Graph.modularity]]): Newman Q of
    * the 4-round LPA partition on the supplier co-sequence graph — the
    * detect-then-evaluate loop (a Q near 0 would say the communities
    * are noise). The oracle replays the full LPA recursion AND the
    * modularity arithmetic.
    */
  private def qModularity(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_suppkey"))
    val edges = t(s, dir, "lineitem")
      .select(col("l_suppkey").as("src"),
        lead(col("l_suppkey"), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull && col("src") =!= col("dst"))
    val labels = graft.ops.Graph.labelPropagation(edges, "src", "dst", rounds = 4)
    graft.ops.Graph.modularity(edges, "src", "dst", labels, "node", "label")
  }

  private def modularityOracleSql(rounds: Int): String = {
    val iters = (1 to rounds).map { i =>
      s"""l$i AS (
         |  SELECT node, CAST(min([-c, label])[2] AS BIGINT) AS label FROM (
         |    SELECT d.node, l.label, COUNT(*) AS c
         |    FROM d JOIN l${i - 1} l ON d.nbr = l.node GROUP BY 1, 2)
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH nxt AS (
       |  SELECT l_suppkey AS src,
       |    lead(l_suppkey) OVER (PARTITION BY l_orderkey
       |                          ORDER BY l_linenumber, l_suppkey) AS dst
       |  FROM lineitem),
       |e0 AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |  FROM nxt WHERE dst IS NOT NULL AND src <> dst),
       |d AS (SELECT u AS node, v AS nbr FROM e0 UNION ALL SELECT v, u FROM e0),
       |l0 AS (SELECT DISTINCT node, node AS label FROM d),
       |$iters,
       |te AS (
       |  SELECT COALESCE(la.label, e0.u) AS lu, COALESCE(lb.label, e0.v) AS lv
       |  FROM e0
       |  LEFT JOIN l$rounds la ON e0.u = la.node
       |  LEFT JOIN l$rounds lb ON e0.v = lb.node),
       |mm AS (SELECT COUNT(*) AS m FROM te),
       |dg AS (
       |  SELECT c, COUNT(*) AS dd FROM (
       |    SELECT lu AS c FROM te UNION ALL SELECT lv FROM te) GROUP BY 1),
       |wi AS (SELECT lu AS c, COUNT(*) AS mc FROM te WHERE lu = lv GROUP BY 1),
       |tm AS (
       |  SELECT m,
       |    CAST(round((CAST(COALESCE(mc, 0) AS DOUBLE) / CAST(m AS DOUBLE)
       |      - (CAST(dd AS DOUBLE) / (2.0 * CAST(m AS DOUBLE)))
       |        * (CAST(dd AS DOUBLE) / (2.0 * CAST(m AS DOUBLE))))
       |      * 1000000000.0) AS BIGINT) AS t
       |  FROM dg LEFT JOIN wi USING (c) CROSS JOIN mm)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
       |  CAST(m AS BIGINT) AS m_edges,
       |  round(CAST(SUM(t) AS DOUBLE) / 1000000000.0, 6) AS modularity
       |FROM tm GROUP BY m""".stripMargin
  }

  /** Triangle count on the part co-purchase graph
    * ([[graft.ops.Graph.triangleCount]]): parts sharing an order form
    * edges; degree-ordered wedges close against the canonical edge set.
    * The oracle counts the same triangles with id-ordered SQL joins —
    * different enumeration order, provably the same count.
    */
  private def qTriangles(s: SparkSession, dir: String): DataFrame = {
    // the graph is sampled by order (25%): triangle work grows with the
    // wedge count (~Σ outdeg²), so the BENCH graph is kept at a density
    // where the 4× sf0.01→sf0.1 step doesn't square into the total; the
    // operator itself is bounded by degree orientation, not this filter
    val items = t(s, dir, "lineitem")
      .filter(col("l_orderkey") % 4 === 0)
      .select(col("l_orderkey").as("k"), col("l_partkey").as("i")).distinct()
    val a = items.toDF("k", "ia")
    val b = items.toDF("k", "ib")
    val edges = a.join(b, Seq("k")).filter(col("ia") < col("ib"))
      .select(col("ia"), col("ib"))
    graft.ops.Graph.triangleCount(edges, "ia", "ib")
  }

  /** k-core of the (thinned) part co-purchase graph
    * ([[graft.ops.Graph.kCore]]): iterative peeling to the unique
    * maximal min-degree-4 subgraph. The oracle unrolls the same peeling
    * as chained CTEs (the PageRank convention) with spare rounds —
    * peeling is confluent and idempotent at the fixpoint, so extra
    * rounds can't change the result.
    */
  private def qKcore(s: SparkSession, dir: String): DataFrame = {
    val items = t(s, dir, "lineitem")
      .filter(col("l_orderkey") % 16 === 0)
      .select(col("l_orderkey").as("k"), col("l_partkey").as("i")).distinct()
    val a = items.toDF("k", "ia")
    val b = items.toDF("k", "ib")
    val edges = a.join(b, Seq("k")).filter(col("ia") < col("ib"))
      .select(col("ia"), col("ib"))
    graft.ops.Graph.kCore(edges, "ia", "ib", k = 4)
      .orderBy(col("node"))
  }

  /** Unrolled k-core peeling oracle: `rounds` chained (degree → keep →
    * filter) CTE blocks over the same thinned co-purchase edges. Sized
    * with headroom over the sf0.01 fixpoint depth (5 rounds measured).
    */
  private def kcoreOracleSql(k: Int, rounds: Int): String = {
    val head =
      """WITH items AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS kk, l_partkey AS i FROM lineitem
        |  WHERE l_orderkey % 16 = 0),
        |e0 AS MATERIALIZED (
        |  SELECT DISTINCT a.i AS u, b.i AS v
        |  FROM items a JOIN items b ON a.kk = b.kk AND a.i < b.i)""".stripMargin
    val steps = (1 to rounds).map { r =>
      s"""k$r AS MATERIALIZED (
         |  SELECT x FROM (SELECT u AS x FROM e${r - 1}
         |                 UNION ALL SELECT v FROM e${r - 1})
         |  GROUP BY x HAVING count(*) >= $k),
         |e$r AS MATERIALIZED (
         |  SELECT e.u, e.v FROM e${r - 1} e
         |  JOIN k$r a ON e.u = a.x JOIN k$r b ON e.v = b.x)""".stripMargin
    }
    val tail =
      s"""SELECT x AS node, count(*) AS core_degree
         |FROM (SELECT u AS x FROM e$rounds UNION ALL SELECT v FROM e$rounds)
         |GROUP BY x ORDER BY x""".stripMargin
    (head +: steps).mkString(",\n") + "\n" + tail
  }

  /** Integer-exact HITS ([[graft.ops.Graph.hits]]) on the supplier
    * co-sequence graph (qPagerank's edges): 3 mutual-reinforcement
    * rounds with max-normalization as scalar integer division, so the
    * distributed iterations hash-match the oracle's unrolled CTE chain
    * exactly — hubs and authorities diverge on directed graphs where
    * PageRank alone conflates the two roles.
    */
  private def qHits(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_suppkey"))
    val edges = t(s, dir, "lineitem")
      .select(col("l_suppkey").as("src"),
        lead(col("l_suppkey"), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull && col("src") =!= col("dst"))
    graft.ops.Graph.hits(edges, "src", "dst", iterations = 3)
      .orderBy(col("node"))
  }

  /** Oracle for [[qHits]]: identical integer recurrence, loop unrolled
    * (auth-from-hub then hub-from-auth per round, each normalized by
    * `raw // greatest(max // unit, 1)`).
    */
  private def hitsOracleSql(iterations: Int): String = {
    val u = "1000000000"
    val iters = (1 to iterations).map { i =>
      s"""af$i AS MATERIALIZED (
         |  SELECT nd.node, COALESCE(ar.raw, 0) AS raw
         |  FROM nodes nd LEFT JOIN (
         |    SELECT e.dst AS node, SUM(h.s) AS raw
         |    FROM e JOIN h${i - 1} h ON e.src = h.node GROUP BY 1) ar
         |  ON nd.node = ar.node),
         |a$i AS MATERIALIZED (
         |  SELECT node, raw // greatest((SELECT MAX(raw) FROM af$i) // $u, 1) AS s
         |  FROM af$i),
         |hf$i AS MATERIALIZED (
         |  SELECT nd.node, COALESCE(hr.raw, 0) AS raw
         |  FROM nodes nd LEFT JOIN (
         |    SELECT e.src AS node, SUM(a.s) AS raw
         |    FROM e JOIN a$i a ON e.dst = a.node GROUP BY 1) hr
         |  ON nd.node = hr.node),
         |h$i AS MATERIALIZED (
         |  SELECT node, raw // greatest((SELECT MAX(raw) FROM hf$i) // $u, 1) AS s
         |  FROM hf$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH nxt AS (
       |  SELECT l_suppkey AS src,
       |    lead(l_suppkey) OVER (PARTITION BY l_orderkey
       |                          ORDER BY l_linenumber, l_suppkey) AS dst
       |  FROM lineitem),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM nxt WHERE dst IS NOT NULL AND src <> dst),
       |nodes AS MATERIALIZED (
       |  SELECT DISTINCT src AS node FROM e UNION SELECT DISTINCT dst FROM e),
       |h0 AS (SELECT node, CAST($u AS BIGINT) AS s FROM nodes),
       |$iters
       |SELECT h.node, CAST(h.s AS BIGINT) AS hub, CAST(a.s AS BIGINT) AS auth
       |FROM h$iterations h JOIN a$iterations a ON h.node = a.node
       |ORDER BY h.node""".stripMargin
  }

  /** Common-neighbor link prediction
    * ([[graft.ops.Graph.linkPrediction]]) on a thinned part
    * co-purchase graph: Adamic-Adar and Resource-Allocation scores for
    * unlinked pairs with >= 2 shared neighbors. Per-center weights are
    * integer nanos, so the pair sums hash-match SQL exactly; the
    * degree cap (64) binds on the graph's hub parts and is mirrored in
    * the oracle.
    */
  private def qLinkPred(s: SparkSession, dir: String): DataFrame = {
    val items = t(s, dir, "lineitem")
      .filter(col("l_orderkey") % 16 === 0)
      .select(col("l_orderkey").as("k"), col("l_partkey").as("i")).distinct()
    val a = items.toDF("k", "ia")
    val b = items.toDF("k", "ib")
    val edges = a.join(b, Seq("k")).filter(col("ia") < col("ib"))
      .select(col("ia"), col("ib"))
    graft.ops.Graph.linkPrediction(edges, "ia", "ib", maxCenterDegree = 64)
      .filter(col("n_common") >= 2)
      .orderBy(col("u"), col("v"))
  }

  private def linkPredOracleSql: String =
    """WITH items AS (
      |  SELECT DISTINCT l_orderkey AS kk, l_partkey AS i FROM lineitem
      |  WHERE l_orderkey % 16 = 0),
      |e AS (
      |  SELECT DISTINCT a.i AS u, b.i AS v
      |  FROM items a JOIN items b ON a.kk = b.kk AND a.i < b.i),
      |d AS (
      |  SELECT c, count(*) AS dg FROM (
      |    SELECT u AS c, v AS n FROM e UNION ALL SELECT v, u FROM e)
      |  GROUP BY c),
      |ctr AS (
      |  SELECT c, CAST(round(1000000000.0 / ln(CAST(dg AS DOUBLE))) AS BIGINT) AS aa_w,
      |    1000000000 // dg AS ra_w
      |  FROM d WHERE dg >= 2 AND dg <= 64),
      |dir AS (
      |  SELECT x.c, x.n, ctr.aa_w, ctr.ra_w FROM (
      |    SELECT u AS c, v AS n FROM e UNION ALL SELECT v, u FROM e) x
      |  JOIN ctr USING (c)),
      |p AS (
      |  SELECT w1.n AS u, w2.n AS v, count(*) AS n_common,
      |    SUM(w1.aa_w) AS aa_nanos, SUM(w1.ra_w) AS ra_nanos
      |  FROM dir w1 JOIN dir w2 ON w1.c = w2.c AND w1.n < w2.n
      |  GROUP BY 1, 2)
      |SELECT p.u, p.v, p.n_common,
      |  CAST(p.aa_nanos AS BIGINT) AS aa_nanos, CAST(p.ra_nanos AS BIGINT) AS ra_nanos
      |FROM p ANTI JOIN e ON p.u = e.u AND p.v = e.v
      |WHERE p.n_common >= 2
      |ORDER BY p.u, p.v""".stripMargin

  /** Degree assortativity ([[graft.ops.Graph.degreeAssortativity]]) of
    * the part co-purchase graph: do popular parts co-occur with other
    * popular parts? One Newman r over exact integer degree moments —
    * every Σ stays DECIMAL until the single final division, so the
    * distributed result hash-matches DuckDB's HUGEINT algebra.
    */
  private def qAssortativity(s: SparkSession, dir: String): DataFrame = {
    val items = t(s, dir, "lineitem")
      .filter(col("l_orderkey") % 4 === 0)
      .select(col("l_orderkey").as("k"), col("l_partkey").as("i")).distinct()
    val a = items.toDF("k", "ia")
    val b = items.toDF("k", "ib")
    val edges = a.join(b, Seq("k")).filter(col("ia") < col("ib"))
      .select(col("ia"), col("ib"))
    graft.ops.Graph.degreeAssortativity(edges, "ia", "ib")
  }

  /** Local clustering coefficients
    * ([[graft.ops.Graph.localClustering]]) on the thinned co-purchase
    * graph (q_kcore's edges): per-part triangle density among its
    * neighbours. The degree-oriented wedge join finds each triangle
    * once and credits all three corners; the oracle enumerates the same
    * triangles as a canonical a<b<c triple join.
    */
  private def qClustering(s: SparkSession, dir: String): DataFrame = {
    val items = t(s, dir, "lineitem")
      .filter(col("l_orderkey") % 16 === 0)
      .select(col("l_orderkey").as("k"), col("l_partkey").as("i")).distinct()
    val a = items.toDF("k", "ia")
    val b = items.toDF("k", "ib")
    val edges = a.join(b, Seq("k")).filter(col("ia") < col("ib"))
      .select(col("ia"), col("ib"))
    graft.ops.Graph.localClustering(edges, "ia", "ib")
      .orderBy(col("node"))
  }

  /** Reciprocity ([[graft.ops.Graph.reciprocity]]) of the directed
    * supplier co-sequence graph (q_pagerank's edges): how often does
    * supplier A precede B in some order AND B precede A in another?
    * One pair-keyed aggregation — a direction pair seen twice is
    * mutual; no self-join.
    */
  private def qReciprocity(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_suppkey"))
    val edges = t(s, dir, "lineitem")
      .select(col("l_suppkey").as("src"),
        lead(col("l_suppkey"), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull)
    graft.ops.Graph.reciprocity(edges, "src", "dst")
  }

  /** 4-truss of the (further-thinned) part co-purchase graph
    * ([[graft.ops.Graph.kTruss]]): every surviving EDGE closes ≥ 2
    * triangles — the edge-cohesion dual of q_kcore that kills the
    * bridges and star hubs degree-peeling admits (the community-seed
    * extractor for dedup-cluster curation). The oracle unrolls the
    * same confluent support-peel as chained CTEs with spare rounds
    * (the q_kcore convention — idempotent at the fixpoint, measured
    * depth 2-3 at sf0.001-0.1 vs 16 unrolled, matched to the engine's
    * 16-round fixpoint backstop so a deeper peel at a larger scale factor
    * can never straddle engine-fixpoint vs oracle-depth), enumerating triangles
    * id-ordered where the engine goes degree-ordered: same triangle
    * set, provably, so hash equality certifies both the peel and the
    * orientation trick. The %64 thinning keeps the wedge volume
    * bench-proportionate (q_triangles' stated density contract).
    */
  private def qKtruss(s: SparkSession, dir: String): DataFrame = {
    val items = t(s, dir, "lineitem")
      .filter(col("l_orderkey") % 64 === 0)
      .select(col("l_orderkey").as("k"), col("l_partkey").as("i")).distinct()
    val a = items.toDF("k", "ia")
    val b = items.toDF("k", "ib")
    val edges = a.join(b, Seq("k")).filter(col("ia") < col("ib"))
      .select(col("ia"), col("ib"))
    graft.ops.Graph.kTruss(edges, "ia", "ib", k = 4)
      .orderBy(col("u"), col("v"))
  }

  /** Unrolled k-truss support-peeling oracle: `rounds` chained
    * (triangles → per-edge support → filter) CTE blocks. Triangles
    * enumerate as canonical a<b<c triple joins; each contributes
    * support to its three edges.
    */
  private def ktrussOracleSql(k: Int, rounds: Int): String = {
    val minSup = k - 2
    val head =
      """WITH items AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS kk, l_partkey AS i FROM lineitem
        |  WHERE l_orderkey % 64 = 0),
        |e0 AS MATERIALIZED (
        |  SELECT DISTINCT a.i AS u, b.i AS v
        |  FROM items a JOIN items b ON a.kk = b.kk AND a.i < b.i)""".stripMargin
    def triBlock(src: String, name: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
         |  FROM $src e1 JOIN $src e2 ON e2.u = e1.v
         |  JOIN $src e3 ON e3.u = e1.u AND e3.v = e2.v)""".stripMargin
    def supBlock(tri: String, name: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT u, v, COUNT(*) AS sup FROM (
         |    SELECT a AS u, b AS v FROM $tri
         |    UNION ALL SELECT a AS u, c AS v FROM $tri
         |    UNION ALL SELECT b AS u, c AS v FROM $tri) tt
         |  GROUP BY 1, 2)""".stripMargin
    val steps = (1 to rounds).map { r =>
      Seq(triBlock(s"e${r - 1}", s"t$r"), supBlock(s"t$r", s"s$r"),
        s"""e$r AS MATERIALIZED (
           |  SELECT e.u, e.v FROM e${r - 1} e
           |  JOIN s$r s ON e.u = s.u AND e.v = s.v
           |  WHERE s.sup >= $minSup)""".stripMargin).mkString(",\n")
    }
    (Seq(head) ++ steps ++ Seq(triBlock(s"e$rounds", "tf"), supBlock("tf", "sf")))
      .mkString(",\n") + "\n" +
      s"""SELECT s.u, s.v, CAST(s.sup AS BIGINT) AS support
         |FROM sf s ORDER BY u, v""".stripMargin
  }

  /** This family's slice of [[graft.SparkEntry.queries]]. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ktruss" -> (qKtruss _),
    "q_assortativity" -> (qAssortativity _),
    "q_clustering" -> (qClustering _),
    "q_reciprocity" -> (qReciprocity _),
    "q_hits" -> (qHits _),
    "q_link_pred" -> (qLinkPred _),
    "q_modularity" -> (qModularity _),
    "q_pagerank" -> (qPagerank _),
    "q_triangles" -> (qTriangles _),
    "q_kcore" -> (qKcore _),
    "q_lpa" -> (qLpa _),
    "q_ppr" -> (qPpr _),
    "q_bfs" -> (qBfs _),
    "q_closeness" -> (qCloseness _),
    "q_eccentricity" -> (qEccentricity _),
    "q_betweenness" -> (qBetweenness _),
  )

  /** This family's slice of [[graft.SparkEntry.oracleSql]]. */
  def oracleSql: Map[String, String] = Map(
    "q_ktruss" -> ktrussOracleSql(k = 4, rounds = 16),
    "q_assortativity" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS k, l_partkey AS i FROM lineitem
        |  WHERE l_orderkey % 4 = 0),
        |e AS (
        |  SELECT DISTINCT a.i AS u, b.i AS v
        |  FROM items a JOIN items b ON a.k = b.k AND a.i < b.i),
        |deg AS (
        |  SELECT x, count(*) AS d FROM (
        |    SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e)
        |  GROUP BY x),
        |j AS (
        |  SELECT CAST(d1.d AS HUGEINT) AS du, CAST(d2.d AS HUGEINT) AS dv
        |  FROM e JOIN deg d1 ON e.u = d1.x JOIN deg d2 ON e.v = d2.x),
        |g AS (
        |  SELECT CAST(count(*) AS HUGEINT) AS m2, SUM(du + dv) AS sx,
        |    SUM(du*du + dv*dv) AS sxx, SUM(du*dv) AS sxy1
        |  FROM j),
        |n AS (SELECT count(*) AS n_nodes FROM deg)
        |SELECT n.n_nodes, CAST(g.m2 AS BIGINT) AS n_edges,
        |  round(CASE WHEN (m2*2) * sxx - sx * sx <> 0
        |    THEN CAST((m2*2) * 2 * sxy1 - sx * sx AS DOUBLE)
        |       / CAST((m2*2) * sxx - sx * sx AS DOUBLE) END, 6) AS assortativity
        |FROM g, n""".stripMargin,
    "q_clustering" ->
      """WITH items AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS k, l_partkey AS i FROM lineitem
        |  WHERE l_orderkey % 16 = 0),
        |e AS MATERIALIZED (
        |  SELECT DISTINCT a.i AS u, b.i AS v
        |  FROM items a JOIN items b ON a.k = b.k AND a.i < b.i),
        |deg AS (
        |  SELECT x, count(*) AS d FROM (
        |    SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e)
        |  GROUP BY x),
        |tr AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM e e1 JOIN e e2 ON e2.u = e1.v
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |tri AS (
        |  SELECT x AS node, count(*) AS t FROM (
        |    SELECT a AS x FROM tr UNION ALL SELECT b AS x FROM tr
        |    UNION ALL SELECT c AS x FROM tr)
        |  GROUP BY x)
        |SELECT deg.x AS node, deg.d AS degree, COALESCE(tri.t, 0) AS triangles,
        |  round(CAST(2 * COALESCE(tri.t, 0) AS DOUBLE)
        |      / CAST(deg.d * (deg.d - 1) AS DOUBLE), 6) AS coeff
        |FROM deg LEFT JOIN tri ON deg.x = tri.node
        |WHERE deg.d >= 2 ORDER BY node""".stripMargin,
    "q_reciprocity" ->
      """WITH nxt AS (
        |  SELECT l_suppkey AS src,
        |    lead(l_suppkey) OVER (PARTITION BY l_orderkey
        |      ORDER BY l_linenumber, l_suppkey) AS dst
        |  FROM lineitem),
        |d AS (
        |  SELECT DISTINCT src AS s, dst AS t FROM nxt
        |  WHERE dst IS NOT NULL AND src <> dst),
        |p AS (
        |  SELECT least(s, t) AS u, greatest(s, t) AS v, count(*) AS c
        |  FROM d GROUP BY 1, 2)
        |SELECT CAST(SUM(c) AS BIGINT) AS n_edges,
        |  CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_mutual_pairs,
        |  round(CAST(2 * SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |      / CAST(SUM(c) AS DOUBLE), 6) AS reciprocity
        |FROM p""".stripMargin,
    "q_hits" -> hitsOracleSql(iterations = 3),
    "q_modularity" -> modularityOracleSql(rounds = 4),
    "q_link_pred" -> linkPredOracleSql,
    "q_lpa" -> lpaOracleSql(rounds = 4),
    "q_ppr" -> pprOracleSql,
    "q_bfs" -> bfsOracleSql,
    "q_closeness" -> closenessOracleSql,
    "q_eccentricity" -> eccentricityOracleSql,
    "q_betweenness" -> betweennessOracleSql,
    "q_triangles" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS k, l_partkey AS i FROM lineitem
        |  WHERE l_orderkey % 4 = 0),
        |e AS (
        |  SELECT DISTINCT a.i AS u, b.i AS v
        |  FROM items a JOIN items b ON a.k = b.k AND a.i < b.i)
        |SELECT count(*) AS n_triangles
        |FROM e e1
        |JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
        |JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v""".stripMargin,
    "q_kcore" -> kcoreOracleSql(k = 4, rounds = 9),
    "q_pagerank" -> pagerankOracleSql,
  )
}
