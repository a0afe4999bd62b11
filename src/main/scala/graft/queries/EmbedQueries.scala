package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructType}

import graft.multimodal.Multimodal
import graft.ops.{AsOf, Columns, Concat, Grouped, Merge, Observe, Pack, Profile, RangeJoin, Reshape, Sampling, Skew, Timeseries}
import graft.streaming.Streaming
import graft.text.{Boilerplate, Cluster, Dedup, Dsir, LangModel, Pq, Rank, Similarity, TextStats}

import graft.queries.Qh.{t, dsum}

/** Embedding family: ANN (brute/LSH/IVF/PQ), k-means, semantic dedup, pair mining.
  *
  * Query defs + their DuckDB oracle SQL, split out of the former
  * monolithic SparkEntry (registry semantics unchanged — the maps merge
  * in [[graft.SparkEntry]]).
  */
object EmbedQueries {

  /** Bucket-bounded near-dup pairs (the LSH scale path for
    * [[qEmbedPairs]]; approximate → rows-only check).
    */
  private def qEmbedPairsLsh(s: SparkSession, dir: String): DataFrame =
    Similarity.lshNearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.3, nPlanes = 4)
      .orderBy(col("id_a"), col("id_b"))

  /** Exact brute-force cosine top-5 for 10 query vectors. */
  private def qTopkSimilar(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.bruteForceTopK(e.filter(col("vec_id") < 10), e, "vec_id", "embedding", 5)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank").cast("long").as("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** LSH-bucketed approximate top-5 (the scale path; rows-only check —
    * the bucket contents are hash-dependent. [[qAnnContainment]] is the
    * semantic check on this path).
    */
  private def qAnnLsh(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.lshTopK(e.filter(col("vec_id") < 10), e, "vec_id", "embedding", 5)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank").cast("long").as("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Semantic check for the ANN path: every LSH top-k hit's cosine must
    * (a) agree with an independently-formulated exact cosine for that
    * pair (dot/norms on the raw vectors, vs the ANN path's
    * normalize-then-dot) and (b) not exceed the true best cosine for its
    * query (brute-force top-1). Violations = 0, oracled as SELECT 0 —
    * a wrong normalization, a mixed-up pair, or an inflated score all
    * fire this.
    */
  private def qAnnContainment(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val queries = e.filter(col("vec_id") < 10)
    val ann = Similarity.lshTopK(queries, e, "vec_id", "embedding", 5)
    val qRaw = e.select(col("vec_id").as("query_id"), col("embedding").as("qv_raw"))
    val nRaw = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv_raw"))
    val best = Similarity.bruteForceTopK(queries, e, "vec_id", "embedding", 1)
      .select(col("query_id"), col("cos").as("best_cos"))
    ann.join(broadcast(qRaw), "query_id").join(nRaw, "neighbor_id")
      .withColumn("cos_indep", Similarity.cosine(col("qv_raw"), col("nv_raw")))
      .join(broadcast(best), "query_id")
      .agg(coalesce(sum(
        when(abs(col("cos") - col("cos_indep")) > 1e-9 ||
          col("cos") > col("best_cos") + lit(1e-9), 1L).otherwise(0L)), lit(0L))
        .as("n_violations"))
  }

  /** IVF (k-means cell) approximate top-5 — learned-partition ANN on
    * the DETERMINISTIC path ([[graft.text.Similarity
    * .ivfTopKDeterministic]]): integer-lattice cell training, integer
    * probe ranking, exact cosine scoring — fully oracled, training
    * included. Probing every cell is checked by [[qIvfExact]].
    */
  private def qIvfTopk(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.ivfTopKDeterministic(e.filter(col("vec_id") < 10), e,
        "vec_id", "embedding", 5, nCells = 16, iters = 2, nProbe = 3)
      .select(col("query_id"), col("neighbor_id"), col("cos"),
        col("rank").cast("long").as("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** ANN hard-negative mining
    * ([[graft.text.Similarity.hardNegativesDeterministic]]): per query,
    * the 5 nearest corpus vectors with a DIFFERENT label — contrastive
    * training's confusable wrong answers, riding the same deterministic
    * IVF as [[qIvfTopk]] (label filter BEFORE ranking, so probed cells
    * fill k with valid negatives).
    */
  private def qHardNegatives(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.hardNegativesDeterministic(e.filter(col("vec_id") < 10), e,
        "vec_id", "embedding", "label", 5, nCells = 16, iters = 2, nProbe = 3)
      .select(col("query_id"), col("neighbor_id"), col("cos"),
        col("rank").cast("long").as("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Oracle for q_hard_negatives: [[ivfTopkOracleSql]]'s replay
    * (training + probe + scoring) with the label-inequality filter
    * applied before the rank window, exactly as the operator does.
    */
  private def hardNegOracleSql(k: Int, cells: Int, iters: Int, nProbe: Int): String = {
    val d2c = "list_sum(list_transform(list_zip(v.q, c.c), x -> (x[1]-x[2])*(x[1]-x[2])))"
    s"""WITH ${kmeansOracleCtes(cells, iters)},
       |$nvCte,
       |qc AS (
       |  SELECT v.vec_id AS query_id, c.cluster,
       |    row_number() OVER (PARTITION BY v.vec_id ORDER BY $d2c, c.cluster) AS crank
       |  FROM v v, c$iters c WHERE v.vec_id < 10),
       |probe AS (SELECT query_id, cluster FROM qc WHERE crank <= $nProbe),
       |cand AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id
       |  FROM probe p JOIN af a USING (cluster) WHERE a.vec_id != p.query_id),
       |lab AS (SELECT vec_id, label FROM embeddings),
       |flt AS (
       |  SELECT c.query_id, c.neighbor_id
       |  FROM cand c JOIN lab ql ON c.query_id = ql.vec_id
       |              JOIN lab nl ON c.neighbor_id = nl.vec_id
       |  WHERE ql.label != nl.label),
       |scored AS (
       |  SELECT f.query_id, f.neighbor_id,
       |    list_sum(list_transform(list_zip(qn.nv, nn.nv), x -> x[1] * x[2])) AS cos
       |  FROM flt f JOIN nv qn ON f.query_id = qn.vec_id
       |             JOIN nv nn ON f.neighbor_id = nn.vec_id)
       |SELECT query_id, neighbor_id, cos,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |FROM scored QUALIFY rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** Oracle for q_ivf_topk: [[kmeansOracleCtes]] replays the integer
    * k-means cell training; probing ranks integer center distances with
    * the cluster-id tiebreak; candidates score with the exact
    * sequential-fold cosine — the whole IVF pipeline, training included,
    * verified value-exact.
    */
  private def ivfTopkOracleSql(k: Int, cells: Int, iters: Int, nProbe: Int): String = {
    val d2c = "list_sum(list_transform(list_zip(v.q, c.c), x -> (x[1]-x[2])*(x[1]-x[2])))"
    s"""WITH ${kmeansOracleCtes(cells, iters)},
       |$nvCte,
       |qc AS (
       |  SELECT v.vec_id AS query_id, c.cluster,
       |    row_number() OVER (PARTITION BY v.vec_id ORDER BY $d2c, c.cluster) AS crank
       |  FROM v v, c$iters c WHERE v.vec_id < 10),
       |probe AS (SELECT query_id, cluster FROM qc WHERE crank <= $nProbe),
       |cand AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id
       |  FROM probe p JOIN af a USING (cluster) WHERE a.vec_id != p.query_id),
       |scored AS (
       |  SELECT c.query_id, c.neighbor_id,
       |    list_sum(list_transform(list_zip(qn.nv, nn.nv), x -> x[1] * x[2])) AS cos
       |  FROM cand c JOIN nv qn ON c.query_id = qn.vec_id
       |               JOIN nv nn ON c.neighbor_id = nn.vec_id)
       |SELECT query_id, neighbor_id, cos,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |FROM scored QUALIFY rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** Semantic check for int8 embedding quantization: reconstruction
    * error per element must stay within the scale/2 bound and every
    * quantized value within [-127, 127], across the whole corpus.
    * Violations = 0 (oracle SELECT 0) — a wrong scale, rounding mode, or
    * overflow fires this.
    */
  private def qQuantize(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val withQ = e.select(
      Similarity.toDoubleArr(col("embedding")).as("v"),
      Similarity.quantize(col("embedding")).as("qv"))
    val maxErr = array_max(zip_with(col("v"), Similarity.dequantize(col("qv")),
      (a, b) => abs(a - b)))
    val maxQ = array_max(transform(col("qv").getField("q"), x => abs(x.cast("int"))))
    withQ.select(
        maxErr.as("max_err"),
        col("qv").getField("scale").cast("double").as("scale"),
        maxQ.as("max_q"))
      .agg(coalesce(sum(when(
        col("max_err") > col("scale") * 0.5 * (1 + 1e-6) + 1e-12 ||
          col("max_q") > 127, 1L).otherwise(0L)), lit(0L)).as("n_violations"))
  }

  /** Integer-exact k-means ([[graft.text.Cluster.kmeansInt]]): embeddings
    * globally quantized to the integer lattice (round(x·1000)), then up
    * to 3 Lloyd rounds with 8 centers, stopping at the exact fixed point
    * — initial centers are the 8 smallest
    * vec_ids, ties break to the smaller cluster, centroids floor to the
    * lattice, empty clusters keep their center. Every assignment and
    * squared distance is integer arithmetic, so the oracle REPLAYS THE
    * WHOLE TRAINING as 3 unrolled CTE rounds and must land on identical
    * clusters AND identical distances for all rows — one wrong tiebreak,
    * floor, or stale center anywhere diverges the chain.
    */
  private def qKmeans(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "embeddings").select(col("vec_id"),
      transform(col("embedding"), x => round(x.cast("double") * 1000).cast("long")).as("q"))
    Cluster.kmeansInt(d, "vec_id", "q", k = 8, iters = 3)
      .orderBy(col("vec_id"))
  }

  /** Davies-Bouldin index ([[graft.text.Cluster.daviesBouldin]]) of
    * the q_kmeans clustering: compactness/separation in one number —
    * per-point distances nano-quantize into cluster means, center
    * separations replay off the same integer lattice the oracle
    * retrains.
    */
  private def qDbIndex(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "embeddings").select(col("vec_id"),
      transform(col("embedding"), x => round(x.cast("double") * 1000).cast("long")).as("q"))
    Cluster.daviesBouldin(d, "vec_id", "q", k = 8, iters = 3)
  }

  /** Centroid silhouette ([[graft.text.Cluster.centroidSilhouette]])
    * of the q_kmeans clustering: per-cluster cohesion scores off the
    * same lattice distances the assignment used — the scalable
    * silhouette variant (center distances, not pairwise), value-exact
    * against the retrained oracle.
    */
  private def qSilhouette(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "embeddings").select(col("vec_id"),
      transform(col("embedding"), x => round(x.cast("double") * 1000).cast("long")).as("q"))
    Cluster.centroidSilhouette(d, "vec_id", "q", k = 8, iters = 3)
      .orderBy(col("cluster"))
  }

  /** Cluster-balanced sampling — the curation move k-means exists FOR:
    * train lattice cells ([[graft.text.Cluster.kmeansInt]], 2 rounds),
    * then keep at most 40 docs per cell by the unbiased md5-hash order
    * ([[graft.ops.Sampling.capPerGroup]]), so over-represented regions of
    * embedding space are capped while sparse regions survive intact
    * (diversity-preserving selection). Selection-exact: the per-cell
    * kept-id sums only match if the ENTIRE training replay and the hash
    * selection both agree.
    */
  private def qClusterSample(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "embeddings").select(col("vec_id"),
      transform(col("embedding"), x => round(x.cast("double") * 1000).cast("long")).as("q"))
    val cells = Cluster.kmeansInt(d, "vec_id", "q", k = 8, iters = 2)
    Sampling.capPerGroup(cells, Seq("cluster"), "vec_id", 40)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_kept"), sum(col("vec_id")).as("sum_kept_ids"))
      .orderBy(col("cluster"))
  }

  /** PQ/ADC approximate top-5 ([[graft.text.Pq]]): per-subspace integer
    * codebooks (2×8 codes, 2 Lloyd rounds), corpus encoded to 2 code ids,
    * asymmetric-distance scan against the 10-query LUT. Fully oracled —
    * the lossy index replays bit-for-bit (training, codes, ADC sums,
    * ranks), unlike the float ANN paths which get containment laws.
    */
  private def qPq(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").select(col("vec_id"),
      transform(col("embedding"), x => round(x.cast("double") * 1000).cast("long")).as("q"))
    val cb = Pq.train(e, "vec_id", "q", d = 64, m = 2, k = 8, iters = 2)
    Pq.adcTopK(e, e.filter(col("vec_id") < 10), "vec_id", "q", cb, topK = 5)
      .select(col("query_id"), col("neighbor_id"), col("approx_d2"),
        col("rank").cast("long").as("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** PQ recall@5 law ([[qPq]] vs exact lattice brute force): per query,
    * how many of the ADC top-5 appear in the true integer top-5. Both
    * sides replay bit-for-bit, so the recall NUMERATORS are oracle-exact
    * — a measured quality figure for the lossy index, not just a
    * containment bound. Validation query (re-runs training + an
    * oracle-scale brute scan; excluded from the bench workload).
    */
  private def qPqRecall(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").select(col("vec_id"),
      transform(col("embedding"), x => round(x.cast("double") * 1000).cast("long")).as("q"))
    val cb = Pq.train(e, "vec_id", "q", d = 64, m = 2, k = 8, iters = 2)
    val pq5 = Pq.adcTopK(e, e.filter(col("vec_id") < 10), "vec_id", "q", cb, topK = 5)
      .select(col("query_id"), col("neighbor_id"))
    val brute = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("q").as("__qv"))
      .crossJoin(e.select(col("vec_id").as("neighbor_id"), col("q").as("__nv")))
      .select(col("query_id"), col("neighbor_id"),
        aggregate(zip_with(col("__qv"), col("__nv"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).as("d2"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("d2"), col("neighbor_id"))
    val b5 = brute.withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("__in"))
    // b5 is at most 5 rows per query: broadcast, so no AQE stage race picks a sort-merge join
    pq5.join(broadcast(b5), Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("__in"), lit(0))).cast("long").as("n_overlap"))
      .orderBy(col("query_id"))
  }

  /** Embedding near-dup pairs above cosine 0.45 — the brute-force O(n²)
    * baseline, scoped to small-SF oracle duty only. The production path is
    * [[qEmbedPairsLsh]]; its semantics are verified against this baseline
    * by [[qLshContainment]].
    */
  private def qEmbedPairs(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding", 0.45)
      .orderBy(col("id_a"), col("id_b"))

  /** Semantic check for the bucketed near-dup path: every pair emitted by
    * [[Similarity.lshNearDupPairs]] must appear in the brute-force
    * above-threshold set (LSH candidates are re-scored with the exact
    * cosine, so containment must be exact). Violations = 0, a scalar the
    * oracle verifies as SELECT 0 — this graduates the scale path from a
    * rows-only check to a verified-semantics one.
    */
  private def qLshContainment(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val lsh = Similarity.lshNearDupPairs(e, "vec_id", "embedding", threshold = 0.3, nPlanes = 4)
      .select(col("id_a"), col("id_b"))
    val brute = Similarity.cosineNearDupPairs(e, "vec_id", "embedding", threshold = 0.3)
      .select(col("id_a"), col("id_b"))
    lsh.join(brute, Seq("id_a", "id_b"), "left_anti")
      .agg(count(lit(1)).as("n_violations"))
  }

  /** Deterministic negative sampling ([[Sampling.negativePairs]]): two
    * hash-derived partners per document via bucket-representative
    * pairing — reproduced id-for-id by the oracle's md5 arithmetic.
    */
  private def qNegPairs(s: SparkSession, dir: String): DataFrame =
    Sampling.negativePairs(t(s, dir, "documents").select(col("doc_id")), "doc_id", 2, 64)
      .orderBy(col("doc_id"), col("j"))

  /** Semantic check for the IVF path: probing EVERY cell of the
    * deterministic index ([[graft.text.Similarity.ivfTopKDeterministic]]
    * with `nProbe = nCells`) must reproduce the brute-force top-k exactly
    * — same neighbors, same ranks, same cosine bits (both paths share the
    * normalize+dot scoring and the (cos desc, id) tiebreak). A wrong cell
    * assignment, a dropped member, or a scoring drift all fire it.
    * Violations = 0.
    */
  private def qIvfExact(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val queries = e.filter(col("vec_id") < 10)
    val ivf = Similarity.ivfTopKDeterministic(queries, e, "vec_id", "embedding", 5,
        nCells = 16, nProbe = 16)
      .select(col("query_id"), col("rank"),
        col("neighbor_id").as("n_ivf"), col("cos").as("cos_ivf"))
    val bf = Similarity.bruteForceTopK(queries, e, "vec_id", "embedding", 5)
      .select(col("query_id"), col("rank"),
        col("neighbor_id").as("n_bf"), col("cos").as("cos_bf"))
    ivf.join(bf, Seq("query_id", "rank"), "full_outer")
      .agg(coalesce(sum(when(
        col("n_ivf").isNull || col("n_bf").isNull ||
          col("n_ivf") =!= col("n_bf") || col("cos_ivf") =!= col("cos_bf"), 1L)
        .otherwise(0L)), lit(0L)).as("n_violations"))
  }

  /** Unrolled-CTE replay of [[graft.text.Cluster.kmeansInt]]'s training:
    * round r assigns with centers c(r-1) (arg_min with [dist, cluster]
    * tiebreak), then c(r) floors the per-dimension means — exactly the
    * operator's `(s - pmod(s, n)) div n` lattice rule (`//` on the
    * exact quotient agrees) — with empty clusters keeping their center
    * via the LEFT JOIN coalesce. The final SELECT assigns with the
    * last centers, mirroring the operator's post-loop projection.
    */
  /** `p` prefixes every CTE name so multiple instances compose in one
    * WITH (the PQ oracle trains one chain per subspace); `vecExpr` is the
    * integer-vector expression over `embeddings` (default: the ×1000
    * lattice quantization; PQ slices it per subspace).
    */
  private def kmeansOracleCtes(k: Int, iters: Int, p: String = "",
      vecExpr: String =
        "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"): String = {
    // assignment = lexicographic min over [dist, cluster] lists (DuckDB
    // compares lists element-wise; arg_min doesn't accept composite keys)
    val d2 = "list_sum(list_transform(list_zip(v.q, c.c), x -> (x[1]-x[2])*(x[1]-x[2])))"
    val rounds = (1 to iters).map { r =>
      s"""${p}a$r AS (
         |  SELECT v.vec_id, v.q,
         |    CAST(min([$d2, c.cluster])[2] AS INTEGER) AS cluster
         |  FROM ${p}v v, ${p}c${r - 1} c GROUP BY v.vec_id, v.q),
         |${p}c$r AS (
         |  SELECT p.cluster, coalesce(u.c, p.c) AS c
         |  FROM ${p}c${r - 1} p LEFT JOIN (
         |    SELECT cluster, list((s - ((s % n) + n) % n) // n ORDER BY pos) AS c
         |    FROM (
         |      SELECT a.cluster, pos.pos, SUM(a.q[pos.pos]) AS s, COUNT(*) AS n
         |      FROM ${p}a$r a CROSS JOIN ${p}pos pos GROUP BY a.cluster, pos.pos)
         |    GROUP BY cluster) u ON u.cluster = p.cluster)""".stripMargin
    }.mkString(",\n")
    s"""${p}v AS (
       |  SELECT vec_id, $vecExpr AS q
       |  FROM embeddings),
       |${p}pos AS (SELECT unnest(range(1, 1 + (SELECT max(len(q)) FROM ${p}v), 1)) AS pos),
       |${p}c0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cluster, q AS c
       |  FROM ${p}v ORDER BY vec_id LIMIT $k),
       |$rounds,
       |${p}af AS (
       |  SELECT v.vec_id,
       |    CAST(min([$d2, c.cluster])[2] AS INTEGER) AS cluster,
       |    CAST(min([$d2, c.cluster])[1] AS BIGINT) AS dist
       |  FROM ${p}v v, ${p}c$iters c GROUP BY v.vec_id)""".stripMargin
  }

  /** PQ/ADC oracle: two prefixed [[kmeansOracleCtes]] chains train the
    * per-subspace codebooks on the sliced lattice vectors; codes come
    * from each chain's final assignment; the query-side LUT scores each
    * query subvector against the FINAL centers; ADC = exact integer sum
    * of the two lookups, top-5 per query with id tie-break.
    */
  private def pqOracleCtes(k: Int, iters: Int, d: Int): String = {
    val sub = d / 2
    val quant = "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
    def lut(p: String, lo: Int, hi: Int) =
      s"""${p}lut AS (
         |  SELECT qv.query_id, c.cluster AS code,
         |    list_sum(list_transform(list_zip(qv.q[$lo:$hi], c.c),
         |      x -> (x[1]-x[2])*(x[1]-x[2]))) AS d2
         |  FROM qv, ${p}c$iters c)""".stripMargin
    s"""${kmeansOracleCtes(k, iters, "s0_", s"($quant)[1:$sub]")},
       |${kmeansOracleCtes(k, iters, "s1_", s"($quant)[${sub + 1}:$d]")},
       |codes AS (
       |  SELECT a.vec_id, a.cluster AS c0, b.cluster AS c1
       |  FROM s0_af a JOIN s1_af b USING (vec_id)),
       |qv AS (
       |  SELECT vec_id AS query_id, $quant AS q
       |  FROM embeddings WHERE vec_id < 10),
       |cv AS (SELECT vec_id, $quant AS q FROM embeddings),
       |${lut("s0_", 1, sub)},
       |${lut("s1_", sub + 1, d)},
       |sc AS (
       |  SELECT l0.query_id, codes.vec_id AS neighbor_id,
       |    CAST(l0.d2 + l1.d2 AS BIGINT) AS approx_d2
       |  FROM codes
       |  JOIN s0_lut l0 ON l0.code = codes.c0
       |  JOIN s1_lut l1 ON l1.code = codes.c1 AND l1.query_id = l0.query_id)""".stripMargin
  }

  private def pqOracleSql(k: Int, iters: Int, d: Int): String =
    s"""WITH ${pqOracleCtes(k, iters, d)}
       |SELECT query_id, neighbor_id, approx_d2,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY approx_d2, neighbor_id) AS rank
       |FROM sc QUALIFY rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** PQ recall law: the ADC top-5 measured against the EXACT integer
    * brute-force top-5 on the same lattice vectors — both sides fully
    * deterministic, so the recall numerators are oracle-exact, unlike the
    * float ANN paths whose laws are containment-only.
    */
  private def pqRecallOracleSql(k: Int, iters: Int, d: Int): String =
    s"""WITH ${pqOracleCtes(k, iters, d)},
       |pq5 AS (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY approx_d2, neighbor_id) AS rank
       |  FROM sc QUALIFY rank <= 5),
       |bd AS (
       |  SELECT qv.query_id, cv.vec_id AS neighbor_id,
       |    list_sum(list_transform(list_zip(qv.q, cv.q),
       |      x -> (x[1]-x[2])*(x[1]-x[2]))) AS d2
       |  FROM qv CROSS JOIN cv),
       |b5 AS (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY d2, neighbor_id) AS rank
       |  FROM bd QUALIFY rank <= 5)
       |SELECT p.query_id,
       |  CAST(SUM(CASE WHEN b.rank IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap
       |FROM pq5 p LEFT JOIN b5 b USING (query_id, neighbor_id)
       |GROUP BY p.query_id ORDER BY p.query_id""".stripMargin

  private def kmeansOracleSql(k: Int, iters: Int): String =
    s"""WITH ${kmeansOracleCtes(k, iters)}
       |SELECT vec_id, cluster, dist FROM af ORDER BY vec_id""".stripMargin

  /** Centroid silhouette over the retrained [[kmeansOracleCtes]] chain:
    * own/second-best lattice distances per point (the same struct-min
    * rule, own cluster excluded for b), nano-quantized per-point scores,
    * cluster means.
    */
  private def silhouetteOracleSql(k: Int, iters: Int): String = {
    val d2 = "list_sum(list_transform(list_zip(v.q, c.c), x -> (x[1]-x[2])*(x[1]-x[2])))"
    s"""WITH ${kmeansOracleCtes(k, iters)},
       |ab AS (
       |  SELECT v.vec_id,
       |    CAST(min([$d2, c.cluster])[2] AS INTEGER) AS own,
       |    CAST(min([$d2, c.cluster])[1] AS BIGINT) AS a2
       |  FROM v v, c$iters c GROUP BY v.vec_id),
       |b2 AS (
       |  SELECT ab.vec_id, ab.own, ab.a2, MIN($d2) AS b2
       |  FROM ab JOIN v v ON v.vec_id = ab.vec_id
       |  JOIN c$iters c ON c.cluster != ab.own
       |  GROUP BY 1, 2, 3),
       |sq AS (
       |  SELECT own,
       |    CASE WHEN greatest(sqrt(CAST(a2 AS DOUBLE)), sqrt(CAST(b2 AS DOUBLE))) > 0
       |      THEN CAST(round((sqrt(CAST(b2 AS DOUBLE)) - sqrt(CAST(a2 AS DOUBLE)))
       |        / greatest(sqrt(CAST(a2 AS DOUBLE)), sqrt(CAST(b2 AS DOUBLE)))
       |        * 1000000000.0) AS BIGINT)
       |      ELSE 0 END AS s
       |  FROM b2)
       |SELECT own AS cluster, COUNT(*) AS n,
       |  round(CAST(SUM(s) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000000000.0, 6)
       |    AS mean_silhouette
       |FROM sq GROUP BY 1 ORDER BY cluster""".stripMargin
  }

  /** Davies-Bouldin over the retrained [[kmeansOracleCtes]] chain:
    * per-cluster nano-quantized mean point distance off `af`, center
    * separations off the final centers CTE, max-ratio per cluster, and
    * a nano-quantized k-term average.
    */
  private def dbIndexOracleSql(k: Int, iters: Int): String =
    s"""WITH ${kmeansOracleCtes(k, iters)},
       |si AS (
       |  SELECT cluster, COUNT(*) AS n,
       |    SUM(CAST(round(sqrt(CAST(dist AS DOUBLE)) * 1000000000.0) AS BIGINT)) AS sd
       |  FROM af GROUP BY 1),
       |cd AS (
       |  SELECT a.cluster AS i, b.cluster AS j,
       |    sqrt(CAST(list_sum(list_transform(list_zip(a.c, b.c),
       |      x -> (x[1]-x[2])*(x[1]-x[2]))) AS DOUBLE)) AS dij
       |  FROM c$iters a JOIN c$iters b ON a.cluster <> b.cluster),
       |r AS (
       |  SELECT cd.i,
       |    MAX((CAST(si.sd AS DOUBLE) / CAST(si.n AS DOUBLE) / 1000000000.0
       |       + CAST(sj.sd AS DOUBLE) / CAST(sj.n AS DOUBLE) / 1000000000.0) / cd.dij) AS ri
       |  FROM cd JOIN si ON si.cluster = cd.i JOIN si sj ON sj.cluster = cd.j
       |  WHERE cd.dij > 0
       |  GROUP BY cd.i)
       |SELECT CAST(COUNT(*) AS BIGINT) AS k,
       |  round(CAST(SUM(CAST(round(ri * 1000000000.0) AS BIGINT)) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) / 1000000000.0, 6) AS db_index
       |FROM r""".stripMargin

  /** [[kmeansOracleCtes]] composed with [[graft.ops.Sampling.capPerGroup]]'s
    * md5-order selection rule (q_cap_group's spelling) over the trained
    * cells: the cap keeps the same per-cluster ids only if the whole
    * training chain AND the hash order agree.
    */
  private def clusterSampleOracleSql(k: Int, iters: Int, cap: Int): String =
    s"""WITH ${kmeansOracleCtes(k, iters)},
       |r AS (
       |  SELECT cluster, vec_id,
       |    row_number() OVER (PARTITION BY cluster
       |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
       |  FROM af)
       |SELECT cluster, COUNT(*) AS n_kept, CAST(SUM(vec_id) AS BIGINT) AS sum_kept_ids
       |FROM r WHERE rk <= $cap
       |GROUP BY cluster ORDER BY cluster""".stripMargin

  /** Cosine threshold shared by the semantic-dedup queries (qSemDedup,
    * qGroupSplit) and their oracles — one knob, four former copies.
    */
  private val semDedupThreshold = 0.45

  /** Banding parameters shared by the LSH-pair queries and their oracles. */
  private val semBandPlanes = 6

  private val semBands = 4

  /** DuckDB list literal for one hyperplane — `Double.toString` is the
    * shortest round-trip rendering, so the oracle parses the exact same
    * 64-bit values the operator folds over.
    */
  private def planeLit(p: Seq[Double]): String =
    p.map(java.lang.Double.toString).mkString("[", ", ", "]")

  /** Normalized-embedding CTE shared by every semantic oracle. */
  private val nvCte: String =
    """nv AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) / sqrt(list_sum(list_transform(embedding,
      |           y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS nv
      |  FROM embeddings)""".stripMargin

  /** DuckDB sign-bit bucket expression over a normalized list column —
    * the single-table twin of [[lshPairsCteChain]]'s per-band expr, for
    * oracles of the un-banded LSH operators.
    */
  private def bucketExprSql(planes: Seq[Seq[Double]], vecRef: String): String =
    planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_sum(list_transform(list_zip($vecRef, ${planeLit(p)}), " +
        s"x -> x[1] * x[2])) >= 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString(" + ")

  /** Oracle for q_ann_lsh: replicates [[graft.text.Similarity.lshTopK]]
    * bit-for-bit — same seeded plane literals, sign-bit buckets, bucket
    * join, exact sequential-fold cosine, (cos DESC, neighbor_id) rank.
    * Verifies the BUCKETING and the scoring, not just row counts.
    */
  private def annLshOracleSql: String = {
    val planes = Similarity.randomPlanes(6, 64)
    s"""WITH $nvCte,
       |bk AS (SELECT vec_id, nv, ${bucketExprSql(planes, "nv")} AS bucket FROM nv),
       |p AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    list_sum(list_transform(list_zip(q.nv, c.nv), x -> x[1] * x[2])) AS cos
       |  FROM bk q JOIN bk c USING (bucket)
       |  WHERE q.vec_id < 10 AND q.vec_id != c.vec_id)
       |SELECT query_id, neighbor_id, cos,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |FROM p QUALIFY rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  /** Oracle for q_embed_pairs_lsh: [[graft.text.Similarity
    * .lshNearDupPairs]] replayed — seeded planes, same-bucket candidate
    * pairs, exact cosine threshold.
    */
  private def embedPairsLshOracleSql: String = {
    val planes = Similarity.randomPlanes(4, 64)
    s"""WITH $nvCte,
       |bk AS (SELECT vec_id, nv, ${bucketExprSql(planes, "nv")} AS bucket FROM nv)
       |SELECT id_a, id_b, cos FROM (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    list_sum(list_transform(list_zip(a.nv, b.nv), x -> x[1] * x[2])) AS cos
       |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
       |WHERE cos > 0.3 ORDER BY id_a, id_b""".stripMargin
  }

  /** Brute-force exact pair CTE (the O(n²) baseline the laws compare
    * against; the workload queries use [[lshPairsCteChain]] instead).
    */
  private def brutePairsSubquery: String =
    s"""SELECT id_a, id_b FROM (
       |    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |      list_sum(list_transform(list_zip(a.nv, b.nv), x -> x[1] * x[2])) AS cos
       |    FROM nv a, nv b WHERE a.vec_id < b.vec_id)
       |  WHERE cos > $semDedupThreshold""".stripMargin

  /** CTE chain replicating [[graft.text.Similarity.lshNearDupPairsBanded]]
    * bit-for-bit: per band, bucket = sign bits of sequential-fold dot
    * products against the operator's own (seeded, embedded-as-literals)
    * hyperplanes; candidates = same-(band,)bucket pairs unioned across
    * bands; `pairs` = candidates passing the exact cosine filter. The
    * oracle therefore verifies the bucketing AND the scoring, not just a
    * pair list.
    */
  private def lshPairsCteChain: String = {
    val bands = Similarity.bandedPlanes(semBandPlanes, semBands, 64)
    val bandCtes = bands.zipWithIndex.map { case (planes, bi) =>
      val bucketExpr = planes.zipWithIndex.map { case (p, i) =>
        s"(CASE WHEN list_sum(list_transform(list_zip(nv, ${planeLit(p)}), " +
          s"x -> x[1] * x[2])) >= 0 THEN ${1 << i} ELSE 0 END)"
      }.mkString(" + ")
      s"b$bi AS (SELECT vec_id, $bucketExpr AS bucket FROM nv)"
    }
    val candUnion = (0 until semBands).map { bi =>
      s"SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM b$bi a " +
        s"JOIN b$bi b ON a.bucket = b.bucket AND a.vec_id < b.vec_id"
    }.mkString("\n  UNION\n  ") // UNION, not UNION ALL: bands dedup
    s"""${bandCtes.mkString(",\n")},
       |cand AS (
       |  $candUnion),
       |pairs AS (
       |  SELECT id_a, id_b FROM (
       |    SELECT c.id_a, c.id_b,
       |      list_sum(list_transform(list_zip(x.nv, y.nv), z -> z[1] * z[2])) AS cos
       |    FROM cand c JOIN nv x ON c.id_a = x.vec_id
       |                JOIN nv y ON c.id_b = y.vec_id)
       |  WHERE cos > $semDedupThreshold)""".stripMargin
  }

  /** Shared oracle-SQL prefix for the semantic-dedup workload queries:
    * normalized embeddings, the BANDED-LSH pair set (the operators' scale
    * path — see [[lshPairsCteChain]]), symmetric edges, transitive
    * closure (`reach`). Both the q_semdedup and q_group_split oracles
    * build on exactly this chain, so their pair sets can never drift
    * apart; q_lsh_recall measures this pair set against the brute-force
    * baseline.
    */
  private def semanticComponentsCte: String =
    s"""WITH RECURSIVE $nvCte,
       |$lshPairsCteChain,
       |edges AS (
       |  SELECT id_a AS a, id_b AS b FROM pairs
       |  UNION SELECT id_b, id_a FROM pairs),
       |reach(a, b) AS (
       |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)""".stripMargin

  /** Semantic dedup, keep-one-per-cluster
    * ([[graft.text.Dedup.dedupByPairs]]): banded-LSH near-dup pairs
    * ([[graft.text.Similarity.lshNearDupPairsBanded]] — the scale path;
    * no cross product anywhere in the plan) → connected components
    * (hash-to-min with pointer jumping) → minimum member survives. The
    * oracle replicates the banding, the bucketing, the exact cosine
    * filter, AND rebuilds the components with a recursive CTE over that
    * identical pair set, so the grouping semantics are verified end to
    * end; q_lsh_recall measures this pair source against the exact
    * brute-force baseline (which stays oracled via q_embed_pairs).
    */
  private def qSemDedup(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val pairs = Similarity.lshNearDupPairsBanded(e, "vec_id", "embedding",
      semDedupThreshold, semBandPlanes, semBands)
    Dedup.dedupByPairs(e.select(col("vec_id"), col("label")), "vec_id", pairs)
      .orderBy(col("vec_id"))
  }

  /** Leakage-safe split ([[graft.ops.Sampling.splitByGroup]]): rows split
    * by their duplicate-cluster representative, so near-copies (as found
    * by the banded-LSH pair source — same scale path and caveats as
    * [[qSemDedup]]) can never straddle train/test. The oracle rebuilds
    * the banding, the clusters (recursive CTE over the same pair set)
    * AND the md5 bucket arithmetic, so grouping and assignment are both
    * verified hex-for-hex.
    */
  private def qGroupSplit(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val pairs = Similarity.lshNearDupPairsBanded(e, "vec_id", "embedding",
      semDedupThreshold, semBandPlanes, semBands)
    Sampling.splitByGroup(e.select(col("vec_id")), "vec_id", pairs,
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy(col("split")).agg(count(lit(1)).as("n"))
      .orderBy(col("split"))
  }

  /** Validation law: measured recall of the banded-LSH pair source
    * against the exact brute-force pair set at the same threshold —
    * the honesty artifact behind qSemDedup/qGroupSplit. LSH pairs are a
    * SUBSET of brute pairs by construction (same exact cosine filter,
    * fewer candidates), so recall = n_lsh / n_brute; the oracle
    * recomputes both sides independently. Runs the O(n²) baseline, so
    * it lives in the validation set, never the bench workload.
    */
  private def qLshRecall(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val brute = Similarity.cosineNearDupPairs(e, "vec_id", "embedding", semDedupThreshold)
    val lsh = Similarity.lshNearDupPairsBanded(e, "vec_id", "embedding",
      semDedupThreshold, semBandPlanes, semBands)
    brute.agg(count(lit(1)).as("n_brute"))
      .crossJoin(lsh.agg(count(lit(1)).as("n_lsh")))
      .select(col("n_brute"), col("n_lsh"),
        round(col("n_lsh").cast("double") / col("n_brute"), 6).as("recall"))
  }

  /** Johnson-Lindenstrauss sign projection
    * ([[Similarity.randomProjection]]): every embedding cut 64 → 16
    * dims through the md5-parity sign matrix — the cheap width
    * reduction before LSH/IVF when raw vectors are too wide; one
    * narrow per-row expression against literal signs, exact signed
    * micro folds, and the oracle regenerates the matrix from the same
    * md5 formula. Output is EXPLODED to one (vec_id, j, proj_val) row
    * per projected dimension — the harness compare sorts column
    * values, so array cells must surface as scalars.
    */
  private def qJl(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"),
        posexplode(Similarity.randomProjection(col("embedding"), outDim = 16, inDim = 64))
          .as(Seq("j", "p")))
      .select(col("vec_id"), col("j").cast("long").as("j"),
        col("p").as("proj_val"))
      .orderBy(col("vec_id"), col("j"))

  /** This family's slice of [[graft.SparkEntry.queries]]. */
  /** Top principal component ([[graft.ops.Pca.pcaTopComponent]]) of the
    * first 16 embedding coordinates: the one direction that explains
    * the most variance in the store — drift axis, dominant topic,
    * whitening prep — by 8 rounds of INTEGER power iteration over the
    * exact scatter matrix. One map-combined moment pass; the iteration
    * touches a 16² driver matrix (bounded by definition); the oracle
    * unrolls the identical truncating-division rounds.
    */
  private def qPca(s: SparkSession, dir: String): DataFrame =
    graft.ops.Pca.pcaTopComponent(t(s, dir, "embeddings"), "embedding",
        dims = 16, iterations = 8)
      // degenerate-input alignment (tools/degenerate_lint.py): the operator
      // keeps its literal dim spine (16 rows, n=0, null loadings) on an
      // empty corpus; the oracle's power-iteration CTEs vanish — drop the
      // empty-input spine here (n > 0 on every real row)
      .filter(col("n") > 0)
      .orderBy(col("dim"))

  private def pcaOracleSql: String = {
    val rounds = (1 to 8).map { r =>
      s"""u$r AS MATERIALIZED (
         |  SELECT s.i AS i, SUM(s.sv * v${r - 1}.v) AS u
         |  FROM s JOIN v${r - 1} ON s.j = v${r - 1}.i GROUP BY 1),
         |v$r AS MATERIALIZED (
         |  SELECT i, u * 1000000 // (SELECT MAX(abs(u)) FROM u$r) AS v
         |  FROM u$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH idx AS (SELECT CAST(unnest(range(1, 17)) AS INTEGER) AS i),
       |e AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  WHERE embedding IS NOT NULL AND len(embedding) >= 16),
       |px AS MATERIALIZED (
       |  SELECT vec_id, i,
       |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS x
       |  FROM e CROSS JOIN idx),
       |n1 AS (SELECT COUNT(*) AS n FROM e),
       |lin AS (SELECT i, SUM(CAST(x AS HUGEINT)) AS sx FROM px GROUP BY 1),
       |pair AS MATERIALIZED (
       |  SELECT a.i AS i, b.i AS j, SUM(CAST(a.x AS HUGEINT) * b.x) AS sxy
       |  FROM px a JOIN px b ON a.vec_id = b.vec_id GROUP BY 1, 2),
       |s AS MATERIALIZED (
       |  SELECT p.i, p.j, (SELECT n FROM n1) * p.sxy - la.sx * lb.sx AS sv
       |  FROM pair p JOIN lin la ON p.i = la.i JOIN lin lb ON p.j = lb.i),
       |v0 AS (SELECT i, CAST(1000000 AS HUGEINT) AS v FROM idx),
       |$rounds,
       |tr AS (SELECT SUM(sv) AS trace FROM s WHERE i = j),
       |ray AS (
       |  SELECT SUM(va.v * s.sv * vb.v) AS num
       |  FROM s JOIN v8 va ON s.i = va.i JOIN v8 vb ON s.j = vb.i),
       |dn AS (SELECT SUM(v * v) AS den FROM v8)
       |SELECT v8.i AS dim, CAST((SELECT n FROM n1) AS BIGINT) AS n,
       |  CASE WHEN (SELECT n FROM n1) >= 2 AND trace > 0 THEN
       |    round(CAST(v AS DOUBLE) / 1000000.0, 6) END AS loading,
       |  CASE WHEN (SELECT n FROM n1) >= 2 AND trace > 0 THEN
       |    round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
       |      / (CAST((SELECT n FROM n1) AS DOUBLE)
       |        * CAST((SELECT n FROM n1) AS DOUBLE))
       |      / 1000000000000.0, 6) END AS eigenvalue,
       |  CASE WHEN (SELECT n FROM n1) >= 2 AND trace > 0 THEN
       |    round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
       |      / CAST(trace AS DOUBLE), 6) END AS var_share
       |FROM v8 CROSS JOIN tr CROSS JOIN ray CROSS JOIN dn
       |ORDER BY dim""".stripMargin
  }

  /** Matryoshka truncation audit: how much cosine does a d-prefix of
    * each embedding RETAIN vs the full vector — for a zero-padded
    * prefix, cos(full, prefix) = ‖x₁..d‖/‖x‖ exactly, so the audit is
    * a norm ratio per vector, meaned per d ∈ {8, 16, 32}. The number
    * that decides whether truncated (cheaper) embeddings are usable
    * for coarse retrieval — the measurement behind matryoshka-style
    * dimension scheduling. Per-element squares accumulate in array
    * order (both engines fold lists sequentially); ratios
    * nano-quantize before the exact mean.
    */
  private def qMatryoshka(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .filter(col("embedding").isNotNull)
    def energy(d: Option[Int]): Column = {
      val arr = d.fold(col("embedding"))(k => slice(col("embedding"), 1, k))
      aggregate(arr, lit(0.0),
        (acc, x) => acc + x.cast("double") * x.cast("double"))
    }
    val dims = Seq(8, 16, 32)
    val dec = DecimalType(38, 0)
    val rows = dims.map { d =>
      val ratio = sqrt(energy(Some(d))) / sqrt(energy(None))
      e.filter(energy(None) > 0.0)
        .agg(count(lit(1)).as("n_vecs"),
          sum(round(ratio * lit(1e9), 0).cast(dec)).as("__rs"))
        .select(lit(d).as("dim"), col("n_vecs"),
          round(col("__rs").cast("double") / lit(1e9) /
            col("n_vecs").cast("double"), 6).as("mean_retained_cos"))
    }
    rows.reduce(_ unionByName _).orderBy(col("dim"))
  }

  /** SQ8 codebook audit ([[Similarity.sq8Audit]]): per-dim min/max
    * affine int8 round-trip over the corpus, reporting preserved
    * cosine + reconstruction error — the "ship 4× smaller vectors?"
    * gate beside q_quantize's per-row symmetric-scale validation (this
    * one is value-exact-oracled, trains a per-DIM codebook, and reads
    * out geometry preservation, not just code-range invariants).
    */
  private def qSq8(s: SparkSession, dir: String): DataFrame =
    Similarity.sq8Audit(t(s, dir, "embeddings"), "vec_id", "embedding")

  /** Alignment/uniformity probe ([[Similarity.alignmentUniformity]]):
    * Wang-Isola geometry readout over deterministic id-offset pairs
    * (1, 7, 101) — collapse shows as uniform → 0, over-spread as
    * align blowing up. Pico-quantized distances, nano-quantized exp
    * terms; the one ln emission is 6 dp post-libm (documented class).
    */
  private def qAlignUniform(s: SparkSession, dir: String): DataFrame =
    Similarity.alignmentUniformity(t(s, dir, "embeddings"),
      "vec_id", "embedding", Seq(1L, 7L, 101L))

  /** Linear CKA ([[Similarity.linearCka]]) between the full 64-dim
    * embedding and its 16-dim Matryoshka prefix: does the prefix
    * preserve the GEOMETRY (CKA near 1), not just the norm mass
    * q_matryoshka measures? Moment-form centered cross-covariances,
    * three scan-shaped d²-cell aggregations, no row joins.
    */
  private def qCka(s: SparkSession, dir: String): DataFrame =
    Similarity.linearCka(
      t(s, dir, "embeddings").filter(col("embedding").isNotNull),
      "vec_id", col("embedding"), slice(col("embedding"), 1, 16))

  /** Moment-form MMD² ([[Similarity.mmdMoment]]) between the label-1
    * and label-0 embedding populations — the MULTIVARIATE two-sample
    * drift readout beside q_embed_drift's per-dim marginal PSI: the
    * linear-kernel term is the mean-shift ‖μ₁ − μ₀‖², the
    * quadratic-kernel term adds covariance-rotation sensitivity
    * (‖M₁ − M₀‖²_F over uncentered second moments) that marginal
    * histograms cannot see. Closed moment form: no pair sampling, no
    * kernel matrix — two cell passes, output corpus-size-free.
    */
  private def qMmd(s: SparkSession, dir: String): DataFrame =
    Similarity.mmdMoment(
      t(s, dir, "embeddings").filter(col("label").isin(0, 1)),
      "vec_id", "embedding", col("label") === 1)

  private def mmdOracleSql: String =
    s"""WITH e AS (
       |  SELECT CASE WHEN label = 1 THEN 1 ELSE 0 END AS g,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS a
       |  FROM embeddings
       |  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
       |    AND label IN (0, 1)),
       |tot AS (SELECT SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS na,
       |    SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS nb,
       |    MAX(len(a)) AS d FROM e),
       |mg AS (
       |  SELECT g, i,
       |    CAST(SUM(CAST(round(x * 1000000000.0) AS HUGEINT)) AS DOUBLE)
       |      / 1000000000.0 / CAST(COUNT(*) AS DOUBLE) AS m
       |  FROM (SELECT g, unnest(a) AS x,
       |      unnest(range(1, len(a) + 1)) AS i FROM e) u
       |  GROUP BY 1, 2),
       |lin AS (
       |  SELECT SUM(CAST(round((ma - mb) * (ma - mb) * 1000000000.0)
       |    AS HUGEINT)) AS lin
       |  FROM (SELECT i, SUM(CASE WHEN g = 1 THEN m ELSE 0.0 END) AS ma,
       |      SUM(CASE WHEN g = 0 THEN m ELSE 0.0 END) AS mb
       |    FROM mg GROUP BY 1) t),
       |qg AS (
       |  SELECT g, i, j,
       |    CAST(SUM(CAST(round(x * y * 1000000000000.0) AS HUGEINT)) AS DOUBLE)
       |      / 1000000000000.0 / CAST(COUNT(*) AS DOUBLE) AS mm
       |  FROM (SELECT g, i, x, unnest(range(1, len(bv) + 1)) AS j,
       |      unnest(bv) AS y
       |    FROM (SELECT g, unnest(a) AS x,
       |        unnest(range(1, len(a) + 1)) AS i, a AS bv FROM e) t1) t2
       |  GROUP BY 1, 2, 3),
       |quad AS (
       |  SELECT SUM(CAST(round((qa - qb) * (qa - qb) * 1000000000.0)
       |    AS HUGEINT)) AS quad
       |  FROM (SELECT i, j, SUM(CASE WHEN g = 1 THEN mm ELSE 0.0 END) AS qa,
       |      SUM(CASE WHEN g = 0 THEN mm ELSE 0.0 END) AS qb
       |    FROM qg GROUP BY 1, 2) t)
       |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       |  CAST(d AS BIGINT) AS dims,
       |  CASE WHEN na > 0 AND nb > 0 THEN
       |    round(CAST(lin AS DOUBLE) / 1000000000.0, 6) END AS mmd2_linear,
       |  CASE WHEN na > 0 AND nb > 0 THEN
       |    round(CAST(quad AS DOUBLE) / 1000000000.0, 6) END AS mmd2_quadratic
       |FROM tot CROSS JOIN lin CROSS JOIN quad""".stripMargin

  /** Participation ratio + diagonal mass ([[Similarity.effectiveRank]])
    * of the 64-dim embedding covariance: the whole-spectrum
    * rank-collapse screen (tr(C)²/tr(C²), stable rank of C^½) and the
    * correlation audit (diag share of ‖C‖²_F) — reads the geometry
    * q_pca's single top component and q_matryoshka's prefix-mass curve
    * both miss, from the SAME d²-cell moment pass q_cka rides (no
    * eigensolve, no driver matrix). Collapse → 1, isotropic → 64.
    */
  private def qEffectiveRank(s: SparkSession, dir: String): DataFrame =
    Similarity.effectiveRank(t(s, dir, "embeddings"), "vec_id", "embedding")

  private def effectiveRankOracleSql: String =
    s"""WITH e AS (
       |  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS a
       |  FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
       |tot AS (SELECT COUNT(*) AS n, MAX(len(a)) AS d FROM e),
       |cc AS (
       |  SELECT i, j, CAST(sxy AS DOUBLE) / 1000000000000.0 / nd
       |      - (CAST(sx AS DOUBLE) / 1000000000.0 / nd)
       |        * (CAST(sy AS DOUBLE) / 1000000000.0 / nd) AS c
       |  FROM (
       |    SELECT i, j, SUM(CAST(round(x * y * 1000000000000.0)
       |      AS HUGEINT)) AS sxy
       |    FROM (
       |      SELECT i, x, unnest(range(1, len(bv) + 1)) AS j,
       |        unnest(bv) AS y
       |      FROM (SELECT unnest(a) AS x,
       |          unnest(range(1, len(a) + 1)) AS i, a AS bv
       |        FROM e) t1) t2
       |    GROUP BY 1, 2) cells
       |  JOIN (SELECT i, SUM(CAST(round(x * 1000000000.0) AS HUGEINT)) AS sx
       |    FROM (SELECT unnest(a) AS x,
       |        unnest(range(1, len(a) + 1)) AS i FROM e) u
       |    GROUP BY 1) ma USING (i)
       |  JOIN (SELECT j, SUM(CAST(round(x * 1000000000.0) AS HUGEINT)) AS sy
       |    FROM (SELECT unnest(a) AS x,
       |        unnest(range(1, len(a) + 1)) AS j FROM e) u
       |    GROUP BY 1) mb USING (j)
       |  CROSS JOIN (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM e) tt),
       |ag AS (
       |  SELECT SUM(CAST(round(c * c * 1000000000.0) AS HUGEINT)) AS f2,
       |    SUM(CASE WHEN i = j THEN CAST(round(c * 1000000000.0) AS HUGEINT)
       |      ELSE 0 END) AS tr,
       |    SUM(CASE WHEN i = j THEN CAST(round(c * c * 1000000000.0) AS HUGEINT)
       |      ELSE 0 END) AS dg
       |  FROM cc)
       |SELECT n, CAST(d AS BIGINT) AS dims,
       |  round(CAST(tr AS DOUBLE) / 1000000000.0, 6) AS trace,
       |  CASE WHEN f2 > 0 THEN
       |    round((CAST(tr AS DOUBLE) / 1000000000.0)
       |      * (CAST(tr AS DOUBLE) / 1000000000.0)
       |      / (CAST(f2 AS DOUBLE) / 1000000000.0), 6)
       |  END AS participation_ratio,
       |  CASE WHEN f2 > 0 THEN
       |    round(CAST(dg AS DOUBLE) / CAST(f2 AS DOUBLE), 6)
       |  END AS diag_mass
       |FROM tot CROSS JOIN ag""".stripMargin

  private def ckaOracleSql: String = {
    def f2(aCol: String, bCol: String, name: String): String =
      s"""$name AS (
         |  SELECT SUM(CAST(round(c * c * 1000000000.0) AS HUGEINT)) AS f2
         |  FROM (
         |    SELECT CAST(sxy AS DOUBLE) / 1000000000000.0 / nd
         |      - (CAST(sx AS DOUBLE) / 1000000000.0 / nd)
         |        * (CAST(sy AS DOUBLE) / 1000000000.0 / nd) AS c
         |    FROM (
         |      SELECT i, j, SUM(CAST(round(x * y * 1000000000000.0)
         |        AS HUGEINT)) AS sxy
         |      FROM (
         |        SELECT i, x, unnest(range(1, len(bv) + 1)) AS j,
         |          unnest(bv) AS y
         |        FROM (SELECT unnest($aCol) AS x,
         |            unnest(range(1, len($aCol) + 1)) AS i, $bCol AS bv
         |          FROM e) t1) t2
         |      GROUP BY 1, 2) cells
         |    JOIN (SELECT i, SUM(CAST(round(x * 1000000000.0) AS HUGEINT)) AS sx
         |      FROM (SELECT unnest($aCol) AS x,
         |          unnest(range(1, len($aCol) + 1)) AS i FROM e) u
         |      GROUP BY 1) ma USING (i)
         |    JOIN (SELECT j, SUM(CAST(round(x * 1000000000.0) AS HUGEINT)) AS sy
         |      FROM (SELECT unnest($bCol) AS x,
         |          unnest(range(1, len($bCol) + 1)) AS j FROM e) u
         |      GROUP BY 1) mb USING (j)
         |    CROSS JOIN (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM e) tt) q)"""
        .stripMargin
    s"""WITH e AS (
       |  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS a,
       |    list_transform(embedding[1:16], x -> CAST(x AS DOUBLE)) AS b
       |  FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
       |tot AS (SELECT COUNT(*) AS n, MAX(len(a)) AS da, MAX(len(b)) AS db FROM e),
       |${f2("a", "b", "fxy")},
       |${f2("a", "a", "fxx")},
       |${f2("b", "b", "fyy")}
       |SELECT n, CAST(da AS BIGINT) AS dims_a, CAST(db AS BIGINT) AS dims_b,
       |  CASE WHEN fxx.f2 > 0 AND fyy.f2 > 0 THEN
       |    round((CAST(fxy.f2 AS DOUBLE) / 1000000000.0)
       |      / sqrt((CAST(fxx.f2 AS DOUBLE) / 1000000000.0)
       |        * (CAST(fyy.f2 AS DOUBLE) / 1000000000.0)), 6)
       |  END AS cka
       |FROM tot CROSS JOIN fxy CROSS JOIN fxx CROSS JOIN fyy""".stripMargin
  }

  /** Hubness audit ([[Similarity.hubnessAudit]]) of the exact cosine
    * 10-NN graph: max in-degree, antihub share, in-degree skewness —
    * the high-dimension pathology readout that tells you whether
    * near-dup keep-lists and retrieval negatives are being captured
    * by a few hub vectors. Registered on the FIXED vec_id < 512
    * deterministic panel (corpus-size-free — the audit posture the
    * operator's require documents); the full-corpus path stays
    * banded LSH.
    */
  private def qHubness(s: SparkSession, dir: String): DataFrame =
    Similarity.hubnessAudit(
      t(s, dir, "embeddings").filter(col("vec_id") < 512),
      "vec_id", "embedding", k = 10)

  private def hubnessOracleSql: String =
    s"""WITH nvp AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(x AS DOUBLE) / sqrt(list_sum(list_transform(embedding,
       |           y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS nv
       |  FROM embeddings WHERE vec_id < 512),
       |edges AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_sum(list_transform(list_zip(q.nv, a.nv),
       |          x -> x[1] * x[2])) DESC, a.vec_id) AS rnk
       |    FROM nvp a, nvp q WHERE a.vec_id <> q.vec_id) t
       |  WHERE rnk <= 10),
       |ind AS (
       |  SELECT COALESCE(e.d, 0) AS d
       |  FROM nvp LEFT JOIN (SELECT neighbor_id, COUNT(*) AS d
       |    FROM edges GROUP BY 1) e ON nvp.vec_id = e.neighbor_id),
       |a AS (
       |  SELECT COUNT(*) AS n, MAX(d) AS mx,
       |    SUM(CASE WHEN d = 0 THEN 1 ELSE 0 END) AS ah,
       |    SUM(CAST(d AS HUGEINT)) AS s1,
       |    SUM(CAST(d * d AS HUGEINT)) AS s2,
       |    SUM(CAST(d * d * d AS HUGEINT)) AS s3
       |  FROM ind),
       |m AS (
       |  SELECT n, mx, ah,
       |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
       |    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
       |    CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3
       |  FROM a)
       |SELECT n AS n_vectors, CAST(10 AS BIGINT) AS k,
       |  CAST(mx AS BIGINT) AS max_indegree, CAST(ah AS BIGINT) AS antihubs,
       |  CAST((CAST(ah AS HUGEINT) * 2000000 + n)
       |    // (CAST(n AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 AS antihub_pct,
       |  CASE WHEN r2 - mu * mu > 0.0 THEN
       |    round((r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu)
       |      / sqrt((r2 - mu * mu) * (r2 - mu * mu) * (r2 - mu * mu)), 6)
       |  END AS indegree_skew
       |FROM m""".stripMargin

  /** TwoNN intrinsic dimension ([[Similarity.twoNnId]]): the manifold
    * dimension the 64-dim embeddings actually use, from each point's
    * two nearest cosine neighbors. The capacity audit beside q_pca's
    * variance spectrum — MLE, not a variance heuristic. Registered on
    * the FIXED vec_id < 512 panel (corpus-size-free by construction).
    */
  private def qTwoNn(s: SparkSession, dir: String): DataFrame =
    Similarity.twoNnId(
      t(s, dir, "embeddings").filter(col("vec_id") < 512),
      "vec_id", "embedding")

  private def twoNnOracleSql: String =
    s"""WITH nvp AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(x AS DOUBLE) / sqrt(list_sum(list_transform(embedding,
       |           y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS nv
       |  FROM embeddings WHERE vec_id < 512),
       |t2 AS (
       |  SELECT query_id,
       |    MAX(CASE WHEN rnk = 1 THEN cos END) AS c1,
       |    MAX(CASE WHEN rnk = 2 THEN cos END) AS c2
       |  FROM (
       |    SELECT q.vec_id AS query_id,
       |      list_sum(list_transform(list_zip(q.nv, a.nv),
       |        x -> x[1] * x[2])) AS cos,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_sum(list_transform(list_zip(q.nv, a.nv),
       |          x -> x[1] * x[2])) DESC, a.vec_id) AS rnk
       |    FROM nvp a, nvp q WHERE a.vec_id <> q.vec_id) x
       |  WHERE rnk <= 2 GROUP BY 1),
       |tr AS (
       |  SELECT CASE WHEN 1.0 - c1 > 0.0 AND 1.0 - c2 > 0.0
       |    THEN CAST(round(ln((1.0 - c2) / (1.0 - c1)) * 0.5
       |      * 1000000000.0) AS HUGEINT) END AS t
       |  FROM t2),
       |a AS (
       |  SELECT COUNT(*) AS n,
       |    SUM(CASE WHEN t IS NOT NULL THEN 1 ELSE 0 END) AS nu,
       |    SUM(t) AS sln
       |  FROM tr)
       |SELECT n AS n_vectors, CAST(nu AS BIGINT) AS n_used,
       |  CASE WHEN nu > 0 AND CAST(sln AS DOUBLE) / 1000000000.0 > 0.0
       |    THEN round(CAST(nu AS DOUBLE)
       |      / (CAST(sln AS DOUBLE) / 1000000000.0), 6)
       |  END AS id_mle
       |FROM a""".stripMargin

  /** SQ8 ADC top-5 recall vs the exact integer-lattice baseline — the
    * retrieval-quality readout completing q_sq8's geometry audit (did
    * the 256-level codebook change what search RETURNS, not just how
    * vectors look?). Entirely integer arithmetic: vectors live on the
    * q_pq_recall round(x·1000) lattice, codes/reconstructions are
    * round-half-up integral divisions, distances exact long L2 —
    * value-exact oracle, no doubles anywhere. Asymmetric (ADC) scoring:
    * exact query vs reconstructed corpus, the FAISS convention.
    */
  private def qSq8Recall(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").select(col("vec_id"),
      transform(col("embedding"),
        x => round(x.cast("double") * 1000, 0).cast("long")).as("q"))
    // per-dim integer codebook bounds, shipped back as plan literals
    val stats = Observe.sortedCollect(e.select(posexplode(col("q")).as(Seq("__i", "__v")))
      .groupBy(col("__i"))
      .agg(min(col("__v")).as("mn"), max(col("__v")).as("mx")), "__i")
    val mnLit = typedLit(stats.map(_.getLong(1)).toSeq)
    val rgLit = typedLit(stats.map(r => r.getLong(2) - r.getLong(1)).toSeq)
    def idiv(num: Column, den: Column): Column =
      floor(num.cast("double") / den.cast("double")).cast("long")
    val dx = zip_with(col("q"), mnLit, (x, mn) => x - mn)
    val code = zip_with(dx, rgLit, (d, rg) =>
      when(rg > 0L, idiv(d * lit(510L) + rg, rg * lit(2L))).otherwise(lit(0L)))
    val sc = zip_with(code, rgLit, (c, rg) =>
      idiv(c * rg * lit(2L) + lit(255L), lit(510L)))
    val xhat = zip_with(sc, mnLit, (t, mn) => mn + t)
    val recon = e.select(col("vec_id").as("neighbor_id"), xhat.as("__hv"))
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("q").as("__qv"))
    def d2(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, x) => acc + x)
    val w = Window.partitionBy(col("query_id")).orderBy(col("d2"), col("neighbor_id"))
    val adc5 = queries.crossJoin(recon)
      .select(col("query_id"), col("neighbor_id"), d2(col("__qv"), col("__hv")).as("d2"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
      .select(col("query_id"), col("neighbor_id"))
    val b5 = queries
      .crossJoin(e.select(col("vec_id").as("neighbor_id"), col("q").as("__nv")))
      .select(col("query_id"), col("neighbor_id"), d2(col("__qv"), col("__nv")).as("d2"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("__in"))
    // b5 is at most 5 rows per query: broadcast, so no AQE stage race picks a sort-merge join
    adc5.join(broadcast(b5), Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("__in"), lit(0))).cast("long").as("n_overlap"))
      .orderBy(col("query_id"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sq8" -> (qSq8 _),
    "q_sq8_recall" -> (qSq8Recall _),
    "q_align_uniform" -> (qAlignUniform _),
    "q_cka" -> (qCka _),
    "q_effective_rank" -> (qEffectiveRank _),
    "q_mmd" -> (qMmd _),
    "q_hubness" -> (qHubness _),
    "q_twonn" -> (qTwoNn _),
    "q_matryoshka" -> (qMatryoshka _),
    "q_pca" -> (qPca _),
    "q_jl" -> (qJl _),
    "q_topk_similar" -> (qTopkSimilar _),
    "q_ann_lsh" -> (qAnnLsh _),
    "q_ann_containment" -> (qAnnContainment _),
    "q_ivf_topk" -> (qIvfTopk _),
    "q_hard_negatives" -> (qHardNegatives _),
    "q_kmeans" -> (qKmeans _),
    "q_db_index" -> (qDbIndex _),
    "q_silhouette" -> (qSilhouette _),
    "q_cluster_sample" -> (qClusterSample _),
    "q_pq" -> (qPq _),
    "q_pq_recall" -> (qPqRecall _),
    "q_embed_pairs" -> (qEmbedPairs _),
    "q_embed_pairs_lsh" -> (qEmbedPairsLsh _),
    "q_lsh_containment" -> (qLshContainment _),
    "q_quantize" -> (qQuantize _),
    "q_neg_pairs" -> (qNegPairs _),
    "q_ivf_exact" -> (qIvfExact _),
    "q_semdedup" -> (qSemDedup _),
    "q_group_split" -> (qGroupSplit _),
    "q_lsh_recall" -> (qLshRecall _),
  )

  /** Oracle for q_align_uniform: replays the normalized offset-pair
    * probe — pico-quantized squared distances folded per pair,
    * nano-quantized exp terms summed exactly, one final ln at 6 dp.
    */
  private def alignUniformOracleSql: String = {
    val per = Seq(1L, 7L, 101L).map { k =>
      s"""SELECT CAST($k AS BIGINT) AS pair_offset, COUNT(*) AS n_pairs,
         |  CAST(round(CAST(SUM(CAST(d2p AS HUGEINT)) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE) / 1000000.0) AS BIGINT) AS align_micro,
         |  round(ln(CAST(SUM(CAST(en AS HUGEINT)) AS DOUBLE) / 1000000000.0
         |    / CAST(COUNT(*) AS DOUBLE)), 6) AS uniform
         |FROM (
         |  SELECT d2p,
         |    CAST(round(exp(CAST(d2p AS DOUBLE) / 1000000000000.0 * -2.0)
         |      * 1000000000.0) AS BIGINT) AS en
         |  FROM (
         |    SELECT list_sum(list_transform(list_zip(a.nv, b.nv),
         |      p -> CAST(round((p[1] - p[2]) * (p[1] - p[2])
         |        * 1000000000000.0) AS BIGINT))) AS d2p
         |    FROM nv a JOIN nv b ON b.vec_id = a.vec_id + $k))""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $nvCte
       |$per
       |ORDER BY pair_offset""".stripMargin
  }

  /** This family's slice of [[graft.SparkEntry.oracleSql]]. */
  def oracleSql: Map[String, String] = Map(
    "q_matryoshka" ->
      """WITH e AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL),
        |en AS (
        |  SELECT
        |    list_sum(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS fe,
        |    list_sum(list_transform(embedding[1:8],
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS e8,
        |    list_sum(list_transform(embedding[1:16],
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS e16,
        |    list_sum(list_transform(embedding[1:32],
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS e32
        |  FROM e),
        |f AS (SELECT * FROM en WHERE fe > 0.0),
        |k8 AS (
        |  SELECT 8 AS dim, COUNT(*) AS n_vecs,
        |    SUM(CAST(round(sqrt(e8) / sqrt(fe) * 1000000000.0) AS HUGEINT)) AS rs
        |  FROM f),
        |k16 AS (
        |  SELECT 16 AS dim, COUNT(*) AS n_vecs,
        |    SUM(CAST(round(sqrt(e16) / sqrt(fe) * 1000000000.0) AS HUGEINT)) AS rs
        |  FROM f),
        |k32 AS (
        |  SELECT 32 AS dim, COUNT(*) AS n_vecs,
        |    SUM(CAST(round(sqrt(e32) / sqrt(fe) * 1000000000.0) AS HUGEINT)) AS rs
        |  FROM f),
        |al AS (SELECT * FROM k8 UNION ALL SELECT * FROM k16 UNION ALL SELECT * FROM k32)
        |SELECT dim, CAST(n_vecs AS BIGINT) AS n_vecs,
        |  round(CAST(rs AS DOUBLE) / 1000000000.0 / CAST(n_vecs AS DOUBLE), 6)
        |    AS mean_retained_cos
        |FROM al ORDER BY dim""".stripMargin,
    "q_pca" -> pcaOracleSql,
    "q_jl" ->
      """WITH dims AS (
        |  SELECT j, d,
        |    CASE WHEN CAST(('0x' || substr(md5('jl:' || j || ':' || d), 1, 8)) AS BIGINT)
        |      % 2 = 0 THEN 1 ELSE -1 END AS sgn
        |  FROM range(16) t1(j), range(64) t2(d)),
        |x AS (
        |  SELECT vec_id, u.i - 1 AS d,
        |    CAST(round(CAST(u.x AS DOUBLE) * 1000000.0) AS BIGINT) AS xm
        |  FROM (SELECT vec_id,
        |          unnest(list_transform(embedding, (v, i) -> {'x': v, 'i': i})) AS u
        |        FROM embeddings)),
        |s AS (
        |  SELECT vec_id, j, SUM(sgn * xm) AS sm
        |  FROM x JOIN dims ON dims.d = x.d GROUP BY 1, 2)
        |SELECT vec_id, CAST(j AS BIGINT) AS j,
        |  CAST(sm AS DOUBLE) / sqrt(16.0) / 1000000.0 AS proj_val
        |FROM s ORDER BY vec_id, j""".stripMargin,
    "q_ivf_topk" -> ivfTopkOracleSql(k = 5, cells = 16, iters = 2, nProbe = 3),
    "q_hard_negatives" -> hardNegOracleSql(k = 5, cells = 16, iters = 2, nProbe = 3),
    "q_topk_similar" ->
      """WITH n AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) / sqrt(list_sum(list_transform(embedding,
        |           y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS nv
        |  FROM embeddings),
        |p AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_sum(list_transform(list_zip(q.nv, c.nv), x -> x[1] * x[2])) AS cos
        |  FROM n q, n c WHERE q.vec_id < 10 AND q.vec_id != c.vec_id)
        |SELECT query_id, neighbor_id, cos,
        |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        |FROM p QUALIFY rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q_kmeans" -> kmeansOracleSql(k = 8, iters = 3),
    "q_db_index" -> dbIndexOracleSql(k = 8, iters = 3),
    "q_silhouette" -> silhouetteOracleSql(k = 8, iters = 3),
    "q_cluster_sample" -> clusterSampleOracleSql(k = 8, iters = 2, cap = 40),
    "q_pq" -> pqOracleSql(k = 8, iters = 2, d = 64),
    "q_pq_recall" -> pqRecallOracleSql(k = 8, iters = 2, d = 64),
    "q_ann_lsh" -> annLshOracleSql,
    "q_embed_pairs_lsh" -> embedPairsLshOracleSql,
    "q_embed_pairs" ->
      """WITH n AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) / sqrt(list_sum(list_transform(embedding,
        |           y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS nv
        |  FROM embeddings)
        |SELECT * FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_sum(list_transform(list_zip(a.nv, b.nv), x -> x[1] * x[2])) AS cos
        |  FROM n a, n b WHERE a.vec_id < b.vec_id)
        |WHERE cos > 0.45 ORDER BY id_a, id_b""".stripMargin,
    "q_lsh_containment" ->
      "SELECT CAST(0 AS BIGINT) AS n_violations",
    "q_ann_containment" ->
      "SELECT CAST(0 AS BIGINT) AS n_violations",
    "q_quantize" ->
      "SELECT CAST(0 AS BIGINT) AS n_violations",
    "q_neg_pairs" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 64 AS bk
        |  FROM documents),
        |reps AS (SELECT bk AS pb, MIN(doc_id) AS neg_id FROM b GROUP BY bk),
        |probes AS (
        |  SELECT doc_id, v.j,
        |    (bk + CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#'
        |       || CAST(v.j AS VARCHAR)), 1, 8)) AS BIGINT) % 64) % 64 AS pb
        |  FROM b, (VALUES (1), (2)) v(j))
        |SELECT p.doc_id, MIN(p.j) AS j, r.neg_id
        |FROM probes p JOIN reps r USING (pb)
        |WHERE r.neg_id <> p.doc_id
        |GROUP BY p.doc_id, r.neg_id
        |ORDER BY p.doc_id, j""".stripMargin,
    "q_ivf_exact" ->
      "SELECT CAST(0 AS BIGINT) AS n_violations",
    "q_group_split" ->
      s"""$semanticComponentsCte,
        |roots AS (SELECT a AS vec_id, min(b) AS root FROM reach GROUP BY a),
        |keyed AS (
        |  SELECT e.vec_id, COALESCE(r.root, e.vec_id) AS gk
        |  FROM embeddings e LEFT JOIN roots r ON e.vec_id = r.vec_id),
        |b AS (
        |  SELECT CAST(('0x' || substr(md5(CAST(gk AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 AS bucket
        |  FROM keyed)
        |SELECT CASE WHEN bucket < 8000 THEN 'train'
        |            WHEN bucket < 9000 THEN 'val'
        |            ELSE 'test' END AS split,
        |  COUNT(*) AS n
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
    // Rebuild the SAME duplicate components (transitive closure over the
    // exact cosine pair set) with a recursive CTE, keep each component's
    // minimum id — verifying the grouping semantics of dedupByPairs, not
    // just its pair list.
    "q_semdedup" ->
      s"""$semanticComponentsCte,
        |losers AS (
        |  SELECT a AS vec_id FROM reach GROUP BY a HAVING min(b) <> a)
        |SELECT vec_id, label FROM embeddings
        |WHERE vec_id NOT IN (SELECT vec_id FROM losers)
        |ORDER BY vec_id""".stripMargin,
    // Recall of the banded-LSH pair source vs the brute-force baseline:
    // the oracle recomputes BOTH pair sets independently (bucketing
    // replicated from embedded plane literals), so the measured recall
    // itself is hash-verified, not self-reported.
    "q_sq8" ->
      """WITH e AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |    CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
        |st AS (SELECT i, MIN(x) AS mn, MAX(x) AS mx FROM e GROUP BY 1),
        |xh AS (
        |  SELECT e.vec_id, e.x,
        |    mn + (CASE WHEN mx - mn > 0.0 THEN
        |        GREATEST(0.0, LEAST(255.0, round((x - mn) / (mx - mn) * 255.0)))
        |      ELSE 0.0 END) * (mx - mn) / 255.0 AS h
        |  FROM e JOIN st USING (i)),
        |pr AS (
        |  SELECT vec_id, COUNT(*) AS d,
        |    SUM(CAST(round(x * h * 1000000000000.0) AS BIGINT)) AS nxh,
        |    SUM(CAST(round(x * x * 1000000000000.0) AS BIGINT)) AS nxx,
        |    SUM(CAST(round(h * h * 1000000000000.0) AS BIGINT)) AS nhh,
        |    SUM(abs(CAST(round((x - h) * 1000000000000.0) AS BIGINT))) AS sabs,
        |    MAX(abs(CAST(round((x - h) * 1000000000000.0) AS BIGINT))) AS mabs
        |  FROM xh GROUP BY 1),
        |cn AS (
        |  SELECT d, sabs, mabs,
        |    CAST(round((CASE WHEN nxx > 0 AND nhh > 0 THEN
        |      CAST(nxh AS DOUBLE)
        |        / (sqrt(CAST(nxx AS DOUBLE)) * sqrt(CAST(nhh AS DOUBLE)))
        |      ELSE 0.0 END) * 1000000000.0) AS BIGINT) AS c
        |  FROM pr)
        |SELECT COUNT(*) AS n_vectors, CAST(MAX(d) AS BIGINT) AS dims,
        |  CAST(round(CAST(SUM(CAST(c AS HUGEINT)) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS avg_cos_nano,
        |  CAST(round(CAST(SUM(CAST(sabs AS HUGEINT)) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) / CAST(MAX(d) AS DOUBLE)) AS BIGINT)
        |    AS mean_abs_err_pico,
        |  CAST(MAX(mabs) AS BIGINT) AS max_abs_err_pico
        |FROM cn""".stripMargin,
    "q_align_uniform" -> alignUniformOracleSql,
    "q_cka" -> ckaOracleSql,
    "q_effective_rank" -> effectiveRankOracleSql,
    "q_mmd" -> mmdOracleSql,
    "q_hubness" -> hubnessOracleSql,
    "q_twonn" -> twoNnOracleSql,
    "q_sq8_recall" ->
      // n_overlap MUST stay CAST AS BIGINT: SUM(int) is HUGEINT in
      // DuckDB and an int128 final column is driver-red (the r12 red
      // row's whole cause — see q_fertility's docstring).
      """WITH l AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
        |  FROM embeddings),
        |e2 AS (
        |  SELECT vec_id, generate_subscripts(q, 1) AS i, unnest(q) AS v FROM l),
        |st AS (SELECT i, MIN(v) AS mn, MAX(v) AS mx FROM e2 GROUP BY 1),
        |xh AS (
        |  SELECT e2.vec_id, e2.i,
        |    st.mn + CAST(floor(CAST(
        |      (CASE WHEN mx - mn > 0 THEN
        |        CAST(floor(CAST((v - mn) * 510 + (mx - mn) AS DOUBLE)
        |          / CAST((mx - mn) * 2 AS DOUBLE)) AS BIGINT)
        |       ELSE 0 END) * (mx - mn) * 2 + 255 AS DOUBLE) / 510.0)
        |      AS BIGINT) AS h
        |  FROM e2 JOIN st USING (i)),
        |qv AS (SELECT vec_id, i, v FROM e2 WHERE vec_id < 10),
        |d2q AS (
        |  SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
        |    SUM((q.v - x.h) * (q.v - x.h)) AS d2
        |  FROM qv q JOIN xh x ON q.i = x.i GROUP BY 1, 2),
        |d2b AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    SUM((q.v - c.v) * (q.v - c.v)) AS d2
        |  FROM qv q JOIN e2 c ON q.i = c.i GROUP BY 1, 2),
        |t5q AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY d2, neighbor_id) AS rk
        |    FROM d2q) WHERE rk <= 5),
        |t5b AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY d2, neighbor_id) AS rk
        |    FROM d2b) WHERE rk <= 5)
        |SELECT t5q.query_id AS query_id,
        |  CAST(SUM(CASE WHEN t5b.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_overlap
        |FROM t5q LEFT JOIN t5b
        |  ON t5b.query_id = t5q.query_id AND t5b.neighbor_id = t5q.neighbor_id
        |GROUP BY t5q.query_id ORDER BY t5q.query_id""".stripMargin,
    "q_lsh_recall" ->
      s"""WITH $nvCte,
        |$lshPairsCteChain,
        |bp AS (SELECT count(*) AS n_brute FROM ($brutePairsSubquery)),
        |lp AS (SELECT count(*) AS n_lsh FROM pairs)
        |SELECT n_brute, n_lsh,
        |  round(CAST(n_lsh AS DOUBLE) / n_brute, 6) AS recall
        |FROM bp, lp""".stripMargin,
  )
}
