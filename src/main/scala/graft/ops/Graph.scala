package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge DataFrames — the link-analysis
  * complement of [[graft.text.Dedup.connectedComponents]] (which handles
  * the undirected reachability case).
  *
  * Not in the reference; engine extension (SURVEY §2.11).
  */
object Graph {

  /** PageRank over a directed edge list, in EXACT integer arithmetic.
    *
    * Ranks live in integer `unit`-ths (default 1e12): iteration t+1 is
    *
    *   r'(v) = ((unit·15) div 100) div N  +  (85 · Σ_{u→v} (r(u) div d(u))) div 100
    *
    * — the damping-0.85 update with every division a truncating integer
    * `div` applied in a fixed order, so the result is bit-identical on
    * any engine and any partitioning (float PageRank never is). The
    * truncated remainders (and dangling-node mass) drain a few units per
    * iteration rather than redistributing — the standard simple variant,
    * stated in the contract.
    *
    * Scale shape: each iteration is one hash join edges⋈ranks on the
    * source (both sides partition by it — at 100 TB pre-partition or
    * bucket the edge list once and every iteration reuses the layout),
    * one map-side-combined aggregation onto the destination, and a left
    * join back onto the node set. State is node-sized, edges never
    * mutate; each iteration's result is localCheckpointed so the plan
    * stays iteration-flat on the [[Observe.cadence]] (every third round
    * and the last; the lineage would otherwise double per round).
    *
    * @param edges (src, dst) rows; duplicates collapse (unweighted)
    * @return (node, rank) with rank in `unit`-ths; Σ rank <= unit
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int, unit: Long = 1000000000000L): DataFrame = {
    require(iterations >= 1, "need at least one iteration")
    require(unit >= 1000000L, "unit too coarse for meaningful ranks")
    // one pass builds the frozen degree-carrying edge list (r14): the
    // source degree rides a window count over the same src partitioning
    // the loop needs anyway — the previous outdeg-join shape recomputed
    // the upstream scan + distinct twice, and the node set twice more;
    // nodes now derive from the checkpointed edge list for free
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct()
      .withColumn("d", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
      .localCheckpoint(true)
    val (nodes, nProbe) = Observe.checkpointed(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct(), count(lit(1)))
    // Size-based join strategy, decided ONCE before the loop: rank state
    // is node-sized, and broadcasting it per iteration is the fast path
    // only while it fits the session's broadcast threshold — past that
    // (~100× the bench graph) the hint would OOM the driver, so the same
    // call degrades to a co-partitioned hash join: the frozen edge list
    // is pre-partitioned on src once (below) and each iteration shuffles
    // only the node-sized rank state onto that layout. The node count
    // rides the checkpoint job.
    val useBroadcast = Hints.fitsBroadcast(edges.sparkSession, nProbe, rowBytes = 32L)
    val eJoined = if (useBroadcast) e else e.repartition(col("src")).localCheckpoint(true)
    // N is the nProbe scalar the broadcast decision already paid for —
    // inlining it as a literal (exact same integer div) drops the 1-row
    // broadcast build + cross join from EVERY iteration; the driver
    // still never holds a rank. An empty graph keeps every frame empty,
    // so the guarded divisor only prevents the needless 1/0 throw.
    val nDiv = math.max(nProbe, 1L)
    // the rank seed is a PROJECTION of the checkpointed node set, read
    // once by iteration 1 — no checkpoint of its own (r15, the LPA
    // nodes-seed finding): the first cadence checkpoint materializes
    // that chain anyway
    var ranks = nodes
      .select(col("node"), lit(unit / nDiv).as("rank"))
    val base = (unit * 15L / 100L) / nDiv
    for (i <- 1 to iterations) {
      // the (frozen, degree-carrying) edge list never re-shuffles — only
      // the dst-keyed partial-agg (and, on the non-broadcast path, the
      // node-sized rank state) moves data
      val rankSide = ranks.withColumnRenamed("node", "src")
      val contribs = eJoined
        .join(if (useBroadcast) broadcast(rankSide) else rankSide, Seq("src"))
        .select(col("dst").as("node"), expr("rank div d").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("in_mass"))
      val next = nodes
        .join(contribs, Seq("node"), "left")
        .select(col("node"),
          expr(s"${base}L + (85L * coalesce(in_mass, 0L)) div 100L").as("rank"))
      ranks = Observe.cadence(next, i, iterations)
    }
    ranks
  }

  /** k-core decomposition: the unique maximal subgraph in which every
    * node has degree >= k — the standard "dense nucleus" extractor
    * (spam/link-farm cores, engaged-community detection) and the
    * degeneracy bound behind triangle orientation.
    *
    * Iterative peeling: drop nodes with degree < k, recompute, repeat to
    * fixpoint. Peeling is CONFLUENT (order never changes the result), so
    * the distributed round structure is free to batch-delete. Each round
    * is one map-combined degree aggregation + two semi-joins on the
    * endpoint keys; state is the surviving edge list, localCheckpointed
    * so lineage stays round-flat (the PageRank convention). Round count
    * is bounded by the peeling depth — small for real graphs; the
    * [[Observe.fixpoint]] backstop (50 rounds) RAISES rather than
    * returning a not-yet-converged core.
    *
    * @return (node, core_degree) for k-core members — core_degree is the
    *         degree WITHIN the core, >= k by construction
    */
  def kCore(edges: DataFrame, aCol: String, bCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    // one action per peel round: the survivor count rides the checkpoint
    val (init, n0) = Observe.checkpointed(undirected(edges, aCol, bCol), count(lit(1)))
    val core = Observe.fixpoint("kCore", init, n0, maxRounds = 50) { cur =>
      val keep = degrees(cur).filter(col("d") >= k).select(col("x"))
      Observe.checkpointed(cur
        .join(keep.toDF("u"), Seq("u"), "left_semi")
        .join(keep.toDF("v"), Seq("v"), "left_semi"), count(lit(1)))
    }(_ == _)
    degrees(core).select(col("x").as("node"), col("d").as("core_degree"))
  }

  /** k-truss decomposition: the maximal subgraph in which every EDGE
    * closes at least k−2 triangles — the edge-cohesion dual of
    * [[kCore]] (a k-truss is a (k−1)-core, but far stricter: bridges
    * and star hubs that survive coring die here), the standard
    * community-seed / spam-nucleus extractor when degree alone
    * over-admits.
    *
    * Iterative support peeling: count per-edge triangle support, drop
    * edges below k−2, repeat to fixpoint. Like coring, peeling is
    * CONFLUENT (drop order never changes the fixpoint), so rounds may
    * batch-delete and an oracle may unroll spare rounds past
    * convergence without changing the result.
    *
    * Each round enumerates triangles with [[triangleCount]]'s
    * degree-ordered wedge discipline (every triangle generated at its
    * lowest-(degree, id) vertex exactly once, wedge fan-out O(√m)) and
    * folds each triangle into its three canonical edges — one
    * map-combined support aggregation + one semi-join per round, state
    * localCheckpointed round-flat. The [[Observe.fixpoint]] backstop (16
    * rounds) RAISES rather than returning a non-fixpoint (the kCore
    * contract).
    *
    * @return (u, v, support) for surviving canonical edges — support
    *         counted WITHIN the truss, >= k−2 by construction
    */
  def kTruss(edges: DataFrame, aCol: String, bCol: String, k: Int): DataFrame = {
    require(k >= 3 && k <= 64, s"k must be in [3, 64]: $k")
    val minSup = (k - 2).toLong
    def support(e: DataFrame): DataFrame = {
      // fold each triangle into its three canonical (u < v) edges
      triangles(e).select(explode(array(
          struct(least(col("a"), col("n1")).as("u"),
            greatest(col("a"), col("n1")).as("v")),
          struct(least(col("a"), col("n2")).as("u"),
            greatest(col("a"), col("n2")).as("v")),
          struct(col("n1").as("u"), col("n2").as("v")))).as("t"))
        .select(col("t.u").as("u"), col("t.v").as("v"))
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("support"))
    }
    // one action per peel round: the survivor count rides the checkpoint
    val (init, n0) = Observe.checkpointed(undirected(edges, aCol, bCol), count(lit(1)))
    val truss = Observe.fixpoint("kTruss", init, n0, maxRounds = 16) { cur =>
      val keep = support(cur).filter(col("support") >= minSup)
        .select(col("u"), col("v"))
      Observe.checkpointed(cur.join(keep, Seq("u", "v"), "left_semi"), count(lit(1)))
    }(_ == _)
    support(truss).select(col("u"), col("v"), col("support"))
  }

  /** Personalized PageRank — [[pageRank]]'s recurrence with the restart
    * mass concentrated on a SOURCE SET instead of spread uniformly:
    * ranks answer "important relative to these seeds" (related-item
    * ranking, seed-expansion curation, trust propagation from a vetted
    * allowlist), not "globally important".
    *
    *   r'(v) = isSrc(v)·((unit·15 div 100) div |S|) + (85·Σ_{u→v} r(u) div d(u)) div 100
    *
    * Same exact-integer discipline as [[pageRank]] (every division a
    * truncating `div` in fixed order — bit-identical on any engine /
    * partitioning); r₀ puts `unit div |S|` on each graph-present seed
    * and 0 elsewhere. Seeds absent from the graph are ignored (|S|
    * counts PRESENT seeds; an all-absent seed set raises). Same scale
    * shape too: frozen degree-carrying edge list, node-sized rank
    * state, size-probed broadcast, [[Observe.cadence]] checkpoints.
    *
    * @param sources frame whose `sourceCol` holds the seed node ids
    * @return (node, rank) with rank in `unit`-ths
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           sources: DataFrame, sourceCol: String,
                           iterations: Int, unit: Long = 1000000000000L): DataFrame = {
    require(iterations >= 1, "need at least one iteration")
    require(unit >= 1000000L, "unit too coarse for meaningful ranks")
    // frozen degree-carrying edge list in one pass (r14) — see
    // [[pageRank]]: the window count replaces the outdeg join (which
    // recomputed the upstream scan + distinct), and the seed-flagged
    // node set derives from the CHECKPOINTED edge list instead of
    // recomputing that scan twice more under its union
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct()
      .withColumn("d", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
      .localCheckpoint(true)
    // the seed count and the node count ride the checkpoint job
    val (flagged, Seq(nsProbe, nProbe)) = Observe.checkpointed(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .join(sources.select(col(sourceCol).as("node")).distinct()
        .withColumn("__s", lit(1L)), Seq("node"), "left")
      .select(col("node"), coalesce(col("__s"), lit(0L)).as("isrc")),
      Seq(sum(col("isrc")), count(lit(1))))
    require(nsProbe > 0, "personalizedPageRank: no seed appears in the graph")
    val useBroadcast = Hints.fitsBroadcast(edges.sparkSession, nProbe, rowBytes = 32L)
    val eJoined = if (useBroadcast) e else e.repartition(col("src")).localCheckpoint(true)
    // |S| is the nsProbe scalar the seed guard already paid for — as a
    // literal it drops the per-iteration 1-row broadcast + cross join
    // (exact same truncating integer div; see [[pageRank]])
    // projection of the checkpointed flagged set, read once by
    // iteration 1 — no checkpoint of its own (r15, see [[pageRank]])
    var ranks = flagged
      .select(col("node"), col("isrc"),
        (lit(unit / nsProbe) * col("isrc")).as("rank"))
    val base = (unit * 15L / 100L) / nsProbe
    for (i <- 1 to iterations) {
      val rankSide = ranks.select(col("node").as("src"), col("rank"))
      val contribs = eJoined
        .join(if (useBroadcast) broadcast(rankSide) else rankSide, Seq("src"))
        .select(col("dst").as("node"), expr("rank div d").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("in_mass"))
      val next = flagged
        .join(contribs, Seq("node"), "left")
        .select(col("node"), col("isrc"),
          expr(s"${base}L * isrc + (85L * coalesce(in_mass, 0L)) div 100L").as("rank"))
      ranks = Observe.cadence(next, i, iterations)
    }
    ranks.select(col("node"), col("rank"))
  }

  /** Synchronous label propagation — the cheap community detector
    * (near-linear per round; the usual first pass over co-interaction
    * graphs before anything spectral): every node starts as its own
    * community and each round adopts the most frequent label among its
    * neighbors. Returns `(node, label)` after exactly `rounds` rounds.
    *
    * Deterministic BY CONSTRUCTION where textbook LPA is not: updates
    * are synchronous (every node reads the PREVIOUS round's labels —
    * asynchronous LPA depends on visit order), and the neighbor vote
    * breaks ties as (max count, then MIN label) via one lexicographic
    * `min(struct(-count, label))` — so the result is bit-identical on
    * any engine/partitioning and the oracle unrolls the identical
    * rounds. Fixed `rounds` (not convergence-polled): synchronous LPA
    * can 2-cycle on bipartite structures, so "run r rounds" IS the
    * published contract, and r stays replayable.
    *
    * Scale shape: the direction-doubled edge list is frozen
    * (pre-partitioned on the neighbor key + localCheckpoint) ONCE;
    * each round joins the node-sized label state to it, one
    * map-side-combined (node, label) vote count, one per-node argmin
    * agg — two exchanges per round, both linear in edges; lineage
    * stays round-flat on the [[Observe.cadence]].
    *
    * Measured negative result (r15): broadcasting the label state per
    * round (the pageRank size-probed pattern, with the edge list
    * re-keyed on the vote key so BOTH aggregations go exchange-free)
    * benched consistently ~10% SLOWER at sf0.1 — every broadcast build
    * is an eager action that replays the un-checkpointed label lineage
    * CUMULATIVELY between cadence checkpoints, where the shuffle shape
    * chains rounds lazily inside one job. At production scale the
    * label state is node-sized and outgrows the broadcast threshold
    * anyway, so the co-partitioned shape is also the 100 TB branch.
    */
  def labelPropagation(edges: DataFrame, aCol: String, bCol: String,
                       rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    val e = undirected(edges, aCol, bCol)
    val dir = e.select(col("u").as("node"), col("v").as("nbr"))
      .unionAll(e.select(col("v").as("node"), col("u").as("nbr")))
      .repartition(col("nbr"))
      .localCheckpoint(true)
    // no checkpoint for the node set (r15): it seeds the label state
    // ONCE and the first cadence checkpoint materializes that chain
    // anyway — the old eager materialization was a pure extra job
    val nodes = dir.select(col("node")).distinct()
    var labels = nodes.select(col("node"), col("node").as("label"))
    for (i <- 1 to rounds) {
      val next = dir
        .join(labels.select(col("node").as("nbr"), col("label")), Seq("nbr"))
        .groupBy(col("node"), col("label"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("node"))
        .agg(min(struct((-col("c")).as("nc"), col("label").as("l"))).as("best"))
        .select(col("node"), col("best.l").as("label"))
      labels = Observe.cadence(next, i, rounds)
    }
    labels
  }

  /** Triangle count over an undirected edge list — the clustering /
    * community-density primitive (co-purchase cliques, link-farm
    * detection on a web corpus).
    *
    * Degree-ordered wedge enumeration: every edge is oriented from its
    * lower-(degree, id) endpoint to the higher, so out-degrees are
    * bounded by O(√m) on any graph and each triangle is generated by
    * EXACTLY ONE wedge at its lowest-degree vertex — the self-join never
    * fans out quadratically on hub nodes the way id-ordered enumeration
    * does (a celebrity node with 10M followers contributes zero wedges
    * unless both neighbors out-rank it). Wedges close against the
    * canonical (u < v) edge set with one hash join. Self-loops drop;
    * duplicate/reversed edges collapse.
    *
    * Shape: degree join + one self-join co-partitioned on the wedge
    * apex + one closing hash join — all equi-joins, no cross product.
    *
    * @return single row (n_triangles)
    */
  def triangleCount(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    // reused 3× (degrees, wedges, closing join)
    val e = undirected(edges, aCol, bCol).localCheckpoint(true)
    triangles(e).agg(count(lit(1)).as("n_triangles"))
  }

  /** The canonical undirected edge set `(u, v)`: u < v, self-loops and
    * duplicates dropped.
    */
  private def undirected(edges: DataFrame, aCol: String, bCol: String): DataFrame =
    edges.select(
        least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .filter(col("u") < col("v")).distinct()

  /** `(x, d)`: the degree of every node of a canonical edge set. */
  private def degrees(e: DataFrame): DataFrame =
    e.select(col("u").as("x")).unionAll(e.select(col("v").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("d"))

  /** Every triangle of a canonical edge set exactly once, as `(a, n1, n2)`
    * with `a` its lowest-(degree, id) corner and n1 < n2: the
    * degree-ordered wedge enumeration of [[triangleCount]], closed
    * against the edge set by one hash join.
    */
  private def triangles(e: DataFrame): DataFrame = {
    val deg = degrees(e)
    // orient each edge toward the higher (degree, id) endpoint
    val oriented = e
      .join(deg.select(col("x").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("x").as("v"), col("d").as("dv")), Seq("v"))
      .select(
        when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("a"), col("v").as("b")))
          .otherwise(struct(col("v").as("a"), col("u").as("b"))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .repartition(col("a")) // both wedge sides share this one exchange
    val w1 = oriented.select(col("a"), col("b").as("n1"))
    val w2 = oriented.select(col("a"), col("b").as("n2"))
    val wedges = w1.join(w2, Seq("a")).filter(col("n1") < col("n2"))
    wedges
      .join(e, wedges("n1") === e("u") && wedges("n2") === e("v"))
      .select(col("a"), col("n1"), col("n2"))
  }

  /** HITS hubs-and-authorities over a directed edge list, in EXACT
    * integer arithmetic — the link-analysis dual of [[pageRank]] (a good
    * hub POINTS AT authorities; a good authority IS POINTED AT by hubs):
    *
    *   a'(v) = Σ_{u→v} h(u)   then   a(v) = a'(v) div s_a
    *   h'(u) = Σ_{u→v} a(v)   then   h(u) = h'(u) div s_h
    *
    * with s = max(max_raw div unit, 1) — the max-normalization every
    * HITS needs for convergence, done as ONE truncating integer div by
    * a scalar scale factor so every value stays an exact long under any
    * partitioning (the float version never hash-matches). Normalized
    * scores land in [0, ~unit]; the top authority/hub sits at ~unit.
    *
    * Overflow headroom: raw sums are bounded by N·2·unit, so the
    * default unit 1e9 is safe to ~4e9 nodes; raise/lower `unit` to
    * trade precision against headroom (stated, not hidden).
    *
    * Scale shape: per iteration, two co-partitioned hash joins of the
    * frozen edge list against node-sized score state and two map-side-
    * combined aggregations; each normalization's max RIDES THE
    * CHECKPOINT JOB as an Observation metric (r15 — the BFS/peel
    * convergence-fusion pattern) and is inlined as a literal divisor,
    * so a normalization is ONE job instead of two (the old shape paid a
    * separate max-aggregation + 1-row broadcast cross join per pass).
    * The normalized state is checkpointed each pass (see `normalized`
    * below) so lineage stays iteration-flat — the [[pageRank]]
    * convention, needed twice as often here because each normalization
    * reads its state twice.
    *
    * @return (node, hub, auth) — integer scores in `unit`-ths
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iterations: Int, unit: Long = 1000000000L): DataFrame = {
    require(iterations >= 1, "need at least one iteration")
    require(unit >= 1000L, "unit too coarse for meaningful scores")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .localCheckpoint(true)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint(true)
    def normalized(raw: DataFrame): DataFrame = {
      // raw: (node, raw) for nodes that RECEIVED mass this pass. The
      // state is CHECKPOINTED before use: it is read twice (the max
      // aggregate and the scaling projection), and unmaterialized that
      // double-read doubles the whole upstream lineage per
      // normalization — 4× per iteration, exponential across iterations
      // (measured as a 10.6s q_hits before the cut; ~1s after). The
      // materialization itself is node-sized — the cheap side of that
      // trade at any scale. Nodes absent from `raw` have score 0, and a
      // zero contributes nothing to the max (raw sums are >= 0) or to
      // the next pass's edge-join sums — so the zero-fill join against
      // the node set, previously paid inside EVERY normalization, is
      // deferred to the single final readout (r14).
      //
      // The max rides the checkpoint job as an Observation metric (r15,
      // the BFS/peel convergence-fusion pattern): one job per
      // normalization instead of two, and the scalar inlines as a
      // literal — the EXACT same truncating `div` the broadcast cross
      // join computed per row (raw sums are >= 0, so long division in
      // the driver and Spark's `div` agree). An empty raw frame leaves
      // the metric null: scale 1, zero rows either way.
      val (st, mx) = Observe.checkpointed(raw, max(col("raw")))
      val scale = math.max(mx / unit, 1L)
      st.select(col("node"), expr(s"raw div ${scale}L").as("score"))
    }
    var hubs = nodes.select(col("node"), lit(unit).as("score"))
    var auths = hubs
    for (i <- 1 to iterations) {
      val araw = e.join(hubs.select(col("node").as("src"), col("score")), Seq("src"))
        .groupBy(col("dst").as("node")).agg(sum(col("score")).as("raw"))
      auths = normalized(araw)
      val hraw = e.join(auths.select(col("node").as("dst"), col("score")), Seq("dst"))
        .groupBy(col("src").as("node")).agg(sum(col("score")).as("raw"))
      hubs = normalized(hraw)
    }
    // single zero-fill at the readout: every graph node reports, sinks
    // (no out-edges) with hub 0 and sources (no in-edges) with auth 0.
    // One union + map-combined aggregation (each node appears at most
    // once per branch, so the sums ARE the scores) — joins here would
    // cost a serial stage each
    nodes.select(col("node"), lit(0L).as("hub"), lit(0L).as("auth"))
      .unionByName(hubs.select(col("node"), col("score").as("hub"), lit(0L).as("auth")))
      .unionByName(auths.select(col("node"), lit(0L).as("hub"), col("score").as("auth")))
      .groupBy(col("node"))
      .agg(sum(col("hub")).as("hub"), sum(col("auth")).as("auth"))
  }

  /** Newman modularity of a node partition over an undirected graph —
    * the standard "are these communities real" score for
    * [[labelPropagation]]'s output (Q ≈ 0: no better than random;
    * Q ≳ 0.3: meaningful structure):
    *
    *   Q = Σ_c ( m_c/m − (D_c/(2m))² )
    *
    * with m the undirected edge count, m_c the within-community edges
    * and D_c the community degree sum. Returns one row
    * `(n_communities, m_edges, modularity)`, 6 dp.
    *
    * Determinism: m, m_c, D_c are exact longs; each community's term is
    * one fixed IEEE tree, nano-quantized BEFORE the community sum (the
    * chi2 discipline). Nodes missing from `labels` count as their own
    * singleton community (their edges are cross-community).
    *
    * Scale shape (r14): the canonical edge list joins the node-sized
    * label frame twice on endpoint keys (broadcast-eligible), then each
    * edge EXPLODES into its two endpoint contributions and ONE
    * map-combined aggregation onto the community key yields degree sum
    * AND within-count together (each within-edge contributes 1 at both
    * of its identical endpoints, so m_c = Σflags div 2; Σ_c D_c = 2m
    * recovers m with no separate edge count). The tagged edge list is
    * therefore computed ONCE — the previous shape recomputed the
    * scan + two label joins four times (m, within, and twice under the
    * degree union). The per-community frame is localCheckpointed
    * (community-sized — the cheap side at any scale) because it feeds
    * both the scalar m and the final rollup.
    */
  def modularity(edges: DataFrame, aCol: String, bCol: String,
                 labels: DataFrame, nodeCol: String, labelCol: String): DataFrame = {
    val e = undirected(edges, aCol, bCol)
    val lab = labels.select(col(nodeCol).as("__n"), col(labelCol).as("__l"))
    val tagged = e
      .join(lab.toDF("u", "__lu"), Seq("u"), "left")
      .join(lab.toDF("v", "__lv"), Seq("v"), "left")
      .select(
        coalesce(col("__lu"), col("u")).as("__lu"),
        coalesce(col("__lv"), col("v")).as("__lv"))
    // one pass: each edge contributes (community, within-flag) at both
    // endpoints; per community, count(*) is the degree sum and the flag
    // sum is exactly 2·m_c (a within edge lands twice on the same key)
    val per = tagged
      .select(col("__lu"), col("__lv"),
        when(col("__lu") === col("__lv"), 1L).otherwise(0L).as("__w"))
      .select(explode(array(
          struct(col("__lu").as("__c"), col("__w")),
          struct(col("__lv").as("__c"), col("__w")))).as("__ep"))
      .select(col("__ep.__c").as("__c"), col("__ep.__w").as("__w"))
      .groupBy(col("__c"))
      .agg(count(lit(1)).as("__d"), expr("sum(__w) div 2").as("__mc"))
      .localCheckpoint(true)
    val m = per.agg(expr("sum(__d) div 2").as("__m"))
    val mD = col("__m").cast("double")
    val termNano = round((coalesce(col("__mc"), lit(0L)).cast("double") / mD
      - (col("__d").cast("double") / (lit(2.0) * mD))
        * (col("__d").cast("double") / (lit(2.0) * mD))) * lit(1e9), 0).cast("long")
    per
      .crossJoin(broadcast(m))
      .select(col("__m"), termNano.as("__t"))
      .groupBy(col("__m"))
      .agg(count(lit(1)).as("n_communities"), sum(col("__t")).as("__q"))
      .select(col("n_communities"), col("__m").as("m_edges"),
        round(col("__q").cast("double") / lit(1e9), 6).as("modularity"))
  }

  /** Link prediction over an undirected graph: for every candidate pair
    * (u, v) sharing at least one neighbor, the three classic
    * common-neighbor scores —
    *
    *   n_common,
    *   Adamic-Adar        Σ_w 1/ln(deg w)   (nano-quantized per center),
    *   Resource Allocation Σ_w 1/deg w      (exact integer nanos)
    *
    * — in one wedge enumeration. Each common neighbor w contributes a
    * per-CENTER integer weight (`round(1e9/ln d)` / `1e9 div d`), so the
    * pair sums are exact longs under any partitioning; AA's ln rides the
    * same nano-quantization contract as the Jevons/TPD log pipelines.
    *
    * `excludeExisting=true` (default) anti-joins already-linked pairs
    * away — prediction proper; false scores every co-neighbor pair
    * (similarity mode).
    *
    * Scale: wedge fanout is quadratic in CENTER degree, so
    * `maxCenterDegree` caps it (default 10k). This is the published
    * mitigation, not a shortcut: a hub center contributes ~1/ln(d) → 0
    * weight per wedge precisely when its fanout explodes, so capping
    * drops the near-zero mass and bounds the join. The cap is an
    * explicit parameter — silent truncation would read as full
    * coverage.
    *
    * @return (u, v, n_common, aa_nanos, ra_nanos) with u < v
    */
  def linkPrediction(edges: DataFrame, aCol: String, bCol: String,
                     maxCenterDegree: Int = 10000,
                     excludeExisting: Boolean = true): DataFrame = {
    require(maxCenterDegree >= 2, "centers need at least two neighbors")
    // reused: degrees, wedges, exclusion join
    val e = undirected(edges, aCol, bCol).localCheckpoint(true)
    val dir = e.select(col("u").as("c"), col("v").as("n"))
      .unionAll(e.select(col("v").as("c"), col("u").as("n")))
    val deg = dir.groupBy(col("c")).agg(count(lit(1)).as("d"))
    // per-center weights, integer nanos; deg-1 centers span no wedge
    val centers = deg
      .filter(col("d") >= 2 && col("d") <= maxCenterDegree)
      .select(col("c"),
        round(lit(1e9) / log(col("d").cast("double")), 0).cast("long").as("aa_w"),
        expr("1000000000L div d").as("ra_w"))
    val wd = dir.join(centers, Seq("c"))
      .repartition(col("c")) // both wedge sides share this one exchange
    val w1 = wd.select(col("c"), col("n").as("n1"), col("aa_w"), col("ra_w"))
    val w2 = wd.select(col("c"), col("n").as("n2"))
    val pairs = w1.join(w2, Seq("c")).filter(col("n1") < col("n2"))
      .groupBy(col("n1").as("u"), col("n2").as("v"))
      .agg(count(lit(1)).as("n_common"),
        sum(col("aa_w")).as("aa_nanos"),
        sum(col("ra_w")).as("ra_nanos"))
    if (excludeExisting) pairs.join(e, Seq("u", "v"), "left_anti") else pairs
  }

  /** Degree assortativity — Newman's r: the Pearson correlation of the
    * degrees at the two ends of each edge (positive = hubs attach to
    * hubs; negative = hub-and-spoke). Over the ORDERED pair multiset
    * (each undirected edge contributes (d_u,d_v) and (d_v,d_u), so the
    * two marginals coincide):
    *
    *   r = (M·Σxy − Σx²) / (M·Σxx − Σx²),
    *   M = 2|E|, Σx = Σ(d_u+d_v), Σxx = Σ(d_u²+d_v²), Σxy = 2·Σ d_u·d_v
    *
    * Determinism: degrees are integers, so every moment accumulates as
    * exact DECIMAL(38,0) (the autocorrelation discipline — n·Σxy − Σx·Σy
    * in double diverges from an integer oracle past 2^53) with ONE IEEE
    * division at the end.
    *
    * Scale shape: one distinct over canonical edges, one degree
    * aggregation, two node-keyed joins to attach endpoint degrees, one
    * 1-row grand aggregation. Nothing quadratic, nothing collected.
    *
    * @return 1 row (n_nodes, n_edges, assortativity); null r on a
    *         degree-regular graph (zero variance)
    */
  def degreeAssortativity(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    // reused: degrees + the two endpoint joins
    val e = undirected(edges, aCol, bCol).localCheckpoint(true)
    val deg = degrees(e)
    val du = col("du").cast(dec)
    val dv = col("dv").cast(dec)
    val j = e
      .join(deg.select(col("x").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("x").as("v"), col("d").as("dv")), Seq("v"))
    val g = j.agg(
      count(lit(1)).cast(dec).as("m2"),
      sum(du + dv).as("sx"),
      sum(du * du + dv * dv).as("sxx"),
      sum(du * dv).as("sxy1"))
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    val mOrdered = g("m2") * lit(2).cast(dec)
    val num = (mOrdered * lit(2).cast(dec) * col("sxy1") - col("sx") * col("sx"))
    val den = (mOrdered * col("sxx") - col("sx") * col("sx"))
    g.crossJoin(nNodes).select(
      col("n_nodes"),
      col("m2").cast("long").as("n_edges"),
      round(when(den =!= lit(0).cast(dec),
        num.cast("double") / den.cast("double")), 6).as("assortativity"))
  }

  /** Local clustering coefficient — per node, the fraction of its
    * neighbour pairs that are themselves connected:
    *
    *   C(v) = 2·T(v) / (d(v)·(d(v)−1))   for d(v) ≥ 2
    *
    * where T(v) counts triangles through v. Triangle discovery is the
    * [[triangleCount]] degree-oriented wedge join (every triangle found
    * EXACTLY once, wedge volume bounded by Σ min-degree orientation),
    * kept un-aggregated so each closed wedge credits its three corners.
    *
    * Determinism: T and d are exact integers; the coefficient is one
    * IEEE division of integer products, 6 dp.
    *
    * Scale shape: identical exchange family to [[triangleCount]] plus
    * one corner explode (3 rows per triangle) and a node-keyed
    * aggregation — per-node credit costs nothing extra at 100 TB
    * because the closing join already materializes each triangle row.
    *
    * @return (node, degree, triangles, coeff) for nodes with d ≥ 2,
    *         zero-triangle nodes included (coeff 0)
    */
  def localClustering(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    // reused 3×: degrees, wedges, closing join
    val e = undirected(edges, aCol, bCol).localCheckpoint(true)
    val deg = degrees(e)
    val tri = triangles(e)
      .select(explode(array(col("a"), col("n1"), col("n2"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
    deg.filter(col("d") >= 2)
      .join(tri, deg("x") === tri("node"), "left")
      .select(col("x").as("node"), col("d").as("degree"),
        coalesce(col("triangles"), lit(0L)).as("t"))
      .select(col("node"), col("degree"), col("t").as("triangles"),
        round((lit(2L) * col("t")).cast("double")
          / (col("degree") * (col("degree") - lit(1L))).cast("double"), 6).as("coeff"))
  }

  /** Reciprocity of a directed graph — the fraction of directed edges
    * whose reverse edge also exists (1 on an undirected-like graph, 0 on
    * a pure DAG):
    *
    *   r = 2·|mutual pairs| / |directed edges|
    *
    * computed WITHOUT a self-join: distinct non-loop directed edges
    * collapse onto their canonical unordered pair, and a pair seen in
    * both directions has count 2 — so one (u,v)-keyed aggregation reads
    * off both the edge total (Σc) and the mutual count (c = 2).
    *
    * Scale shape: one distinct + one pair-keyed aggregation + a 1-row
    * rollup; integer counts, one IEEE division.
    *
    * @return 1 row (n_edges, n_mutual_pairs, reciprocity)
    */
  def reciprocity(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val d = edges.select(col(srcCol).as("s"), col(dstCol).as("t"))
      .filter(col("s") =!= col("t")).distinct()
    val pairs = d.groupBy(
        least(col("s"), col("t")).as("u"),
        greatest(col("s"), col("t")).as("v"))
      .agg(count(lit(1)).as("c"))
    pairs.agg(
        sum(col("c")).as("n_edges"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("n_mutual_pairs"))
      .select(col("n_edges"), col("n_mutual_pairs"),
        round((lit(2L) * col("n_mutual_pairs")).cast("double")
          / col("n_edges").cast("double"), 6).as("reciprocity"))
  }

  /** Bounded-hop multi-source BFS: shortest hop distance from ANY seed
    * node, following directed edges, up to `maxHops`. Returns
    * `(node, dist)` for every node reached within the bound — the
    * blast-radius / influence-frontier query (who is within k clicks /
    * trades / links of this set?) that PageRank's stationary view
    * cannot answer. Unreached nodes are absent (their distance is not
    * 0 or ∞ — it is unknown at this bound, so no row is honest).
    *
    * Exact by construction: distances are small integers; each round
    * is min(previous, previous-frontier + 1), a confluent lattice
    * update — partitioning and join order cannot change the fixpoint
    * prefix a bounded unroll computes.
    *
    * Scale shape: the DISTINCT edge list freezes (checkpointed) and
    * pre-partitions on src once; each round joins the node-sized
    * distance state against it co-partitioned, then one min
    * aggregation. State checkpoints per round (the [[hits]] lesson:
    * the double-read would otherwise double lineage). maxHops is the
    * honest knob — frontier volume, not data size, bounds each round.
    * It is [[seedDistances]]' frontier, run under one constant seed key.
    */
  def bfsDistances(edges: DataFrame, srcCol: String, dstCol: String,
                   seeds: DataFrame, seedCol: String,
                   maxHops: Int): DataFrame =
    seedDistances(edges, srcCol, dstCol, seeds, seedCol, lit(0L), maxHops)
      .select(col("node"), col("dist"))

  /** Bounded-hop closeness centrality for a SEED SET — per seed, run
    * [[bfsDistances]]' confluent min-relaxation carrying the seed key,
    * then reduce each seed's distance vector to the two standard
    * centralities:
    *
    *   harmonic  = Σ_{v≠s, d(s,v)≤H} 1/d(s,v)         (Boldi–Vigna form,
    *               defined even on disconnected graphs)
    *   closeness = (n_reached − 1) / Σ d(s,v)          (Bavelas, within
    *               the reached set — the bounded-reach convention)
    *
    * Exact per-seed BFS for ALL nodes within `maxHops`; centrality is
    * exact over the H-hop ball (the H→∞ limit is the textbook value).
    * Returns `(seed, n_reached, sum_dist, harmonic, closeness)` —
    * n_reached counts the seed itself, sum_dist is exact.
    *
    * Determinism: distances are exact integer min-lattice values;
    * 1/d nano-quantizes per (seed, node) before the exact sum, and
    * closeness is one IEEE division — 6 dp.
    *
    * Scale shape: state is (seeds × reached) rows — meant for a
    * BOUNDED seed panel (the "how central are THESE accounts" query),
    * k·V state like [[personalizedPageRank]]'s restart vector, with
    * eager per-round checkpoints truncating lineage. Rounds = maxHops
    * by contract. All-pairs closeness (seeds = V) is a different,
    * quadratic problem — use sampled seeds (the standard estimator)
    * and this same operator.
    */
  def closenessCentrality(edges: DataFrame, srcCol: String, dstCol: String,
                          seeds: DataFrame, seedCol: String,
                          maxHops: Int): DataFrame = {
    val dist = seedDistances(edges, srcCol, dstCol, seeds, seedCol, col("node"), maxHops)
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val agg = dist.groupBy(col("seed")).agg(
      count(lit(1)).as("n_reached"),
      sum(col("dist").cast(dec)).as("__sd"),
      sum(when(col("dist") > 0L,
        round(lit(1e9) / col("dist").cast("double"), 0).cast(dec))
        .otherwise(lit(0).cast(dec))).as("__h"))
    agg.select(col("seed"), col("n_reached"),
      col("__sd").cast("long").as("sum_dist"),
      round(col("__h").cast("double") / lit(1e9), 6).as("harmonic"),
      when(col("__sd") > 0,
        round((col("n_reached") - lit(1L)).cast("double") /
          col("__sd").cast("double"), 6)).as("closeness"))
  }

  /** The per-seed frontier-BFS distance state shared by
    * [[bfsDistances]], [[closenessCentrality]] and [[eccentricity]]:
    * `(seed, node, dist)` for every node within `maxHops` of each
    * seed, exact integer min-lattice distances, eager per-round
    * checkpoints, early exit on an empty frontier. `seed` is the
    * `seedKey` expression over the seed `node` column: the node itself
    * gives one ball per seed, a constant one ball around the whole set.
    */
  private def seedDistances(edges: DataFrame, srcCol: String, dstCol: String,
                            seeds: DataFrame, seedCol: String, seedKey: Column,
                            maxHops: Int): DataFrame = {
    require(maxHops >= 1 && maxHops <= 16, s"maxHops out of range: $maxHops")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .repartition(col("src")).localCheckpoint(true)
    var dist = seeds.select(col(seedCol).as("node")).distinct()
      .select(seedKey.as("seed"), col("node"), lit(0L).as("dist"))
      .localCheckpoint(true)
    // frontier BFS: with unit weights a node's distance is final the round
    // it is first reached, so each round expands ONLY last round's new
    // nodes (anti-joined against settled state) — identical fixpoint to
    // the full min-lattice relaxation, strictly less join work per round
    var frontier = dist
    var hop = 1
    var exhausted = false
    while (hop <= maxHops && !exhausted) {
      val reached = e.join(frontier.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("seed"), col("dst").as("node")).distinct()
      // early exit once every seed's ball is exhausted (r12, ADVICE) —
      // the size rides the checkpoint job, no separate probe action
      val (next, n) = Observe.checkpointed(reached
        .join(dist.select(col("seed"), col("node")), Seq("seed", "node"), "left_anti")
        .select(col("seed"), col("node"), lit(hop.toLong).as("dist")), count(lit(1)))
      frontier = next
      if (n == 0L) exhausted = true
      // the settled state stays a LAZY union of the per-hop checkpointed
      // frontiers (≤ maxHops flat branches): re-materializing the whole
      // growing state every hop cost one extra job AND O(hops × state)
      // materialized bytes, vs O(state) total for the union view (r14)
      else dist = dist.unionByName(frontier)
      hop += 1
    }
    dist
  }

  /** Bounded-hop eccentricity for a seed panel — the worst-case
    * counterpart of [[closenessCentrality]]'s averages: per seed, the
    * MAXIMUM hop distance to any node it reaches within `maxHops`,
    * plus the panel-level radius/diameter LOWER BOUNDS (min/max of the
    * seed eccentricities — the standard sampled bounds; exact
    * eccentricity would need the full ball, which `maxHops` truncates
    * by contract, so a seed whose frontier is still growing at the
    * bound reports `truncated = true` and its ecc is itself a lower
    * bound). Returns per seed:
    * `(seed, n_reached, eccentricity, truncated)` — all exact
    * integers / booleans, no float surface at all.
    *
    * Scale shape: the [[closenessCentrality]] machinery verbatim
    * ((seeds × reached) state, frontier rounds, eager checkpoints) and
    * one seed-keyed max aggregation. The truncation flag is
    * `eccentricity = maxHops` — conservative (a ball that exhausts
    * EXACTLY at the bound still flags), which is the honest direction
    * for a lower-bound readout.
    */
  def eccentricity(edges: DataFrame, srcCol: String, dstCol: String,
                   seeds: DataFrame, seedCol: String,
                   maxHops: Int): DataFrame = {
    val dist = seedDistances(edges, srcCol, dstCol, seeds, seedCol, col("node"), maxHops)
    dist.groupBy(col("seed")).agg(
        count(lit(1)).as("n_reached"),
        max(col("dist")).as("eccentricity"))
      .select(col("seed"), col("n_reached"), col("eccentricity"),
        (col("eccentricity") === lit(maxHops.toLong)).as("truncated"))
  }

  /** Seed-sampled betweenness centrality (Brandes 2001, truncated to
    * the `maxHops` ball) — "which nodes do shortest paths FUNNEL
    * through?", the brokerage readout closeness/PageRank cannot give.
    * For each seed s the forward phase runs level-synchronous BFS
    * carrying σ (the EXACT shortest-path count per node); the backward
    * phase accumulates the dependency
    *
    *   δ(v) = Σ_{w : d(w) = d(v)+1, (v,w) ∈ E} (σ_v/σ_w)·(1 + δ(w))
    *
    * level by level, and betweenness(v) = Σ_seeds δ_s(v). Sampling
    * seeds is THE standard estimator (Brandes-Pich): exact per-seed
    * dependencies, unbiased up to the seed panel and the hop
    * truncation (paths longer than `maxHops` do not contribute —
    * stated, not hidden). Returns `(node, n_seeds, bc_nano)` for every
    * node reached at depth ≥ 1 by some seed — all BIGINT (δ carried in
    * exact nano units; no float surface).
    *
    * Determinism: σ is an exact integer (decimal) by level-synchronous
    * construction; each backward edge term is the exact integral
    * `(σ_v·(10⁹ + δ_w)) div σ_w` (truncating div, non-negative
    * operands), so per-node sums are order-free and an unrolled CTE
    * chain replays the whole estimator bit-for-bit.
    *
    * Scale shape: the frozen edge list is partitioned once by src (the
    * forward join key) and once by dst (the backward join key); each
    * of the ≤ 2·maxHops rounds joins node-level (seed × frontier)
    * state co-partitioned, with eager checkpoints truncating lineage
    * ([[seedDistances]] discipline) and early exit on an exhausted
    * frontier. State is (seeds × reached) — a BOUNDED seed panel, the
    * [[closenessCentrality]] contract.
    */
  def betweenness(edges: DataFrame, srcCol: String, dstCol: String,
                  seeds: DataFrame, seedCol: String,
                  maxHops: Int): DataFrame = {
    require(maxHops >= 2 && maxHops <= 8, s"maxHops out of range: $maxHops")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
      .repartition(col("src")).localCheckpoint(true)
    val eByDst = e.repartition(col("dst")).localCheckpoint(true)
    // forward: level-synchronous BFS carrying exact path counts
    val l0 = seeds.select(col(seedCol).as("seed")).distinct()
      .select(col("seed"), col("seed").as("node"), lit(1L).cast(dec).as("sig"))
      .localCheckpoint(true)
    val levels = scala.collection.mutable.ArrayBuffer(l0)
    // seen is a lazy union of PROJECTIONS of checkpointed levels — its
    // initial slice needs no checkpoint of its own (r15): re-reading it
    // re-runs a projection over l0's materialized blocks, not a plan
    var seen = l0.select(col("seed"), col("node"))
    var exhausted = false
    var h = 1
    while (h <= maxHops && !exhausted) {
      val prev = levels.last
      // level size rides the checkpoint job, no separate probe action
      val (next, n) = Observe.checkpointed(
        e.join(prev.withColumnRenamed("node", "src"), Seq("src"))
          .groupBy(col("seed"), col("dst").as("node"))
          .agg(sum(col("sig")).as("sig"))
          .join(seen, Seq("seed", "node"), "left_anti"), count(lit(1)))
      if (n == 0L) exhausted = true
      else {
        levels += next
        // lazy union of checkpointed levels (≤ maxHops branches) — the
        // seedDistances r14 discipline: one fewer job per level, no
        // re-materialization of the growing visited set
        seen = seen.unionByName(next.select(col("seed"), col("node")))
      }
      h += 1
    }
    val top = levels.length - 1 // deepest level actually reached
    // backward: dependency accumulation, deepest level has delta = 0.
    // No checkpoint for the top level (r15): it is a LITERAL projection
    // of an already-checkpointed frame — materializing it again cost a
    // job per query and saved nothing on its two (projection-only) reads
    val deltas = scala.collection.mutable.Map[Int, DataFrame]()
    deltas(top) = levels(top).select(col("seed"), col("node"), lit(0L).as("dlt"))
    for (lev <- (top - 1) to 1 by -1) {
      val wSide = levels(lev + 1)
        .join(deltas(lev + 1), Seq("seed", "node"))
        .select(col("seed"), col("node").as("dst"),
          col("sig").as("__sw"), col("dlt").as("__dw"))
      val terms = eByDst.join(wSide, Seq("dst"))
        .join(levels(lev).select(col("seed"), col("node").as("src"),
          col("sig").as("__sv")), Seq("seed", "src"))
        .select(col("seed"), col("src").as("node"),
          expr("cast(__sv * (1000000000 + __dw) as decimal(38,0)) div __sw")
            .as("__term"))
        .groupBy(col("seed"), col("node"))
        .agg(sum(col("__term").cast(dec)).as("__sum"))
      deltas(lev) = levels(lev).select(col("seed"), col("node"))
        .join(terms, Seq("seed", "node"), "left")
        .select(col("seed"), col("node"),
          coalesce(col("__sum").cast("long"), lit(0L)).as("dlt"))
        .localCheckpoint(true)
    }
    val contribs = (1 to top).map(lev =>
      deltas(lev).select(col("seed"), col("node"), col("dlt")))
    if (contribs.isEmpty) {
      // no node beyond the seeds themselves: empty result, fixed schema
      l0.select(col("node"), lit(0L).as("n_seeds"), lit(0L).as("bc_nano"))
        .limit(0)
    } else {
      contribs.reduce(_ unionByName _)
        .groupBy(col("node"))
        .agg(count(lit(1)).as("n_seeds"),
          sum(col("dlt").cast(dec)).as("__bc"))
        .select(col("node"), col("n_seeds"),
          col("__bc").cast("long").as("bc_nano"))
    }
  }
}
