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

/** Deduplication family: exact, MinHash, SimHash, n-gram Jaccard, span-level dedup.
  *
  * Query defs + their DuckDB oracle SQL, split out of the former
  * monolithic SparkEntry (registry semantics unchanged — the maps merge
  * in [[graft.SparkEntry]]).
  */
object DedupQueries {

  /** Exact dedup groups keyed by md5 fingerprint. */
  private def qDedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(t(s, dir, "documents"), "text", "doc_id")
      .orderBy(col("fingerprint"))

  /** Exact 5-gram Jaccard near-dup pairs (shingle-join, no n² blowup). */
  private def qDedupJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text", 5)
      .orderBy(col("id_a"), col("id_b"))

  /** Per-document shingle novelty ([[Dedup.shingleNovelty]]): what
    * fraction of each document's distinct 5-gram shingles appear
    * nowhere else — the memorization-risk inverse of q_dedup_jaccard's
    * pair view (low novelty = boilerplate tissue, high = unique
    * content or a contamination candidate). Hash-invariant counts:
    * Spark shuffles 8-byte shingle hashes, the oracle counts the
    * strings.
    */
  private def qNovelty(s: SparkSession, dir: String): DataFrame =
    Dedup.shingleNovelty(t(s, dir, "documents"), "doc_id", "text", 5)
      .orderBy(col("doc_id"))

  /** Keep-BEST near-dup removal ([[Dedup.dedupByPairsKeepBest]]):
    * Jaccard >= 0.5 pairs → connected components → the LONGEST member
    * (n_chars desc, doc_id asc) survives each cluster — the real
    * curation keeper, vs [[qDupComponents]]' min-id convention. The
    * oracle rebuilds the pair set, the clusters (recursive CTE) and the
    * argmax, so the survivor SELECTION is verified, not just counts.
    */
  private def qDedupBest(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val pairs = Dedup.ngramJaccardPairs(d, "doc_id", "text", 5)
      .filter(col("jaccard") >= 0.5)
    Dedup.dedupByPairsKeepBest(d.select(col("doc_id"), col("n_chars")), "doc_id",
        pairs, col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Cross-source near-duplicate matrix: q_dedup_jaccard's exact
    * 5-gram pairs at Jaccard ≥ 0.3, rolled up by UNORDERED source pair
    * — "which feeds are copying which?", the provenance view a mixture
    * owner reads before re-weighting (within-source duplication and
    * cross-source syndication need different fixes). Per-pair jaccard
    * micro-quantizes (exact — both engines compute the identical IEEE
    * ratio) before the sum; the mean emits via integral divide.
    */
  private def qDupSources(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val pairs = Dedup.ngramJaccardPairs(d, "doc_id", "text", 5, minJaccard = 0.3)
    val src = d.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("id_a"), col("source").as("__sa")), Seq("id_a"))
      .join(src.select(col("doc_id").as("id_b"), col("source").as("__sb")), Seq("id_b"))
      .select(least(col("__sa"), col("__sb")).as("source_a"),
        greatest(col("__sa"), col("__sb")).as("source_b"),
        round(col("jaccard") * lit(1e6), 0).cast("long").as("__jm"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("__jm")).as("sum_jaccard_micro"))
      .withColumn("mean_jaccard",
        expr("(sum_jaccard_micro * 2 + n_pairs) div (n_pairs * 2)")
          .cast("double") / lit(1e6))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** MinHash+LSH near-dup summary: candidate-pair count and max
    * signature-estimated Jaccard.
    *
    * NO DuckDB ORACLE, by construction: the signature rides Spark's
    * `xxhash64` (XXH64 with Spark's seed and type-tagged input layout);
    * DuckDB has no compatible hash, so an equivalent SQL replay cannot
    * exist. The driver records a rows-only check; the semantic guarantee
    * is carried by the oracled containment law (q_minhash_containment).
    */
  private def qDedupMinhash(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashCandidatePairs(t(s, dir, "documents"), "doc_id", "text")
      .agg(
        count(lit(1)).as("n_candidate_pairs"),
        coalesce(max(col("est_jaccard")), lit(0.0)).as("max_est_jaccard"),
        coalesce(avg(col("est_jaccard")), lit(0.0)).as("avg_est_jaccard"),
      )

  /** Semantic check for the MinHash+LSH path: every candidate pair must
    * actually share a shingle (left-join to the exact Jaccard pairs finds
    * none missing), and its signature-estimated Jaccard must track the
    * exact Jaccard within 0.35 (measured max deviation at these scales is
    * 0.15 with 32 hashes; deterministic given the fixed seed). Violations
    * = 0, oracled as SELECT 0 — a broken signature, band slicing, or
    * estimate formula fires this.
    */
  private def qMinhashContainment(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val cand = Dedup.minhashCandidatePairs(docs, "doc_id", "text")
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 5)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    cand.join(exact, Seq("id_a", "id_b"), "left")
      .agg(coalesce(sum(when(col("jaccard").isNull ||
          abs(col("est_jaccard") - col("jaccard")) > 0.35, 1L).otherwise(0L)), lit(0L))
        .as("n_violations"))
  }

  /** Semantic check for pair→group dedup: components over the exact
    * Jaccard pair graph must satisfy (a) both endpoints of every edge
    * share a label, (b) every label is the minimum id among its members,
    * and (c) dedupByPairs keeps exactly one doc per component plus all
    * unpaired docs. Violations = 0 (oracle SELECT 0).
    */
  private def qDupComponents(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 5, minJaccard = 0.05)
      .select(col("id_a"), col("id_b"))
      .persist() // feeds CC's edge build plus two validation joins
    val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
    // LEFT joins: a vertex MISSING from cc must count as a violation,
    // not silently drop the edge row — the check may not fail open.
    val edgeViol = Observe.rowCount(pairs
      .join(cc.select(col("v").as("id_a"), col("label").as("la")), Seq("id_a"), "left")
      .join(cc.select(col("v").as("id_b"), col("label").as("lb")), Seq("id_b"), "left")
      .filter(col("la").isNull || col("lb").isNull || col("la") =!= col("lb")))
    val minViol = Observe.rowCount(cc.groupBy(col("label")).agg(min(col("v")).as("min_v"))
      .filter(col("label") =!= col("min_v")))
    // vertex completeness: cc must cover exactly the pair endpoints
    val nEndpoints = Observe.rowCount(pairs.select(col("id_a").as("v"))
      .union(pairs.select(col("id_b").as("v"))).distinct())
    val nVerts = Observe.rowCount(cc)
    val vertViol = if (nVerts == nEndpoints) 0L else 1L
    // keep-one identity, derived from the SAME cc result (running
    // dedupByPairs would re-run the whole iterative loop)
    val losers = cc.filter(col("v") =!= col("label")).select(col("v").as("doc_id"))
    val kept = Observe.rowCount(docs.join(losers, Seq("doc_id"), "left_anti"))
    val nDocs = Observe.rowCount(docs)
    val nComponents = Observe.rowCount(cc.select(col("label")).distinct())
    val keepViol = if (kept == nDocs - nVerts + nComponents) 0L else 1L
    pairs.unpersist()
    val spark = s
    import spark.implicits._
    Seq(edgeViol + minViol + vertViol + keepViol).toDF("n_violations")
  }

  /** SimHash clustering: docs per 32-bit simhash value.
    *
    * NO DuckDB ORACLE, by construction: the bit-vote hash rides Spark's
    * `xxhash64` (XXH64 with Spark's seed and type-tagged input layout);
    * DuckDB has no compatible hash, so an equivalent SQL replay cannot
    * exist. The driver records a rows-only check; the semantic guarantee
    * is carried by the oracled containment law (q_simhash_containment).
    */
  private def qDedupSimhash(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(Dedup.simhash32(col("text")).as("simhash"))
      .groupBy(col("simhash")).agg(count(lit(1)).as("n_docs"))
      .orderBy(col("simhash"))

  /** Winnowing fingerprint + subword counts per doc.
    *
    * NO DuckDB ORACLE, by construction: the rolling window hash rides Spark's
    * `xxhash64` (XXH64 with Spark's seed and type-tagged input layout);
    * DuckDB has no compatible hash, so an equivalent SQL replay cannot
    * exist. The driver records a rows-only check; the semantic guarantee
    * is carried by the oracled containment law (q_fingerprint_containment).
    */
  private def qFingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        size(TextStats.fingerprints(col("text"), 5, 4)).as("n_fingerprints"),
        TextStats.subwordCount(col("text")).as("n_subwords"))
      .orderBy(col("doc_id"))

  /** Semantic check for the SimHash path, both directions: (a) every
    * candidate's reported Hamming distance must equal an independent
    * full-32-bit recompute and respect the threshold; (b) within the
    * banding recall-guarantee domain — pairs agreeing on one of the two
    * 16-bit halves — every pair under the threshold must have been
    * emitted. Violations = 0.
    */
  private def qSimhashContainment(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val cand = Dedup.simhashCandidatePairs(docs, "doc_id", "text")
    val hashed = docs.select(col("doc_id"), Dedup.simhash32(col("text")).as("sh"))
    val all = hashed.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      .crossJoin(hashed.select(col("doc_id").as("id_b"), col("sh").as("sh_b")))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hx", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
    val v1 = cand
      .join(all.select(col("id_a"), col("id_b"), col("hx")), Seq("id_a", "id_b"), "left")
      .agg(coalesce(sum(when(col("hx").isNull ||
        col("hamming") =!= col("hx") || col("hamming") > 3, 1L).otherwise(0L)), lit(0L))
        .as("v"))
    val v2 = all
      .filter((shiftright(col("sh_a"), 16) === shiftright(col("sh_b"), 16)) ||
        (col("sh_a").bitwiseAND(lit(0xFFFFL)) === col("sh_b").bitwiseAND(lit(0xFFFFL))))
      .filter(col("hx") <= 3)
      .join(cand, Seq("id_a", "id_b"), "left_anti")
      .agg(count(lit(1)).as("v"))
    v1.unionByName(v2).agg(coalesce(sum(col("v")), lit(0L)).as("n_violations"))
  }

  /** Semantic check for winnowing fingerprints (the last rows-only
    * family): (a) membership — every fingerprint is the minimum of some
    * k-gram window, hence an element of the document's k-gram hash set;
    * (b) the winnowing guarantee — a common substring of ≥ w+k-1 grams
    * shares at least one fingerprint, so prefixing a document must leave
    * a non-empty fingerprint intersection for any document with ≥ w+k-1
    * grams. Violations = 0 (Schleimer et al., SIGMOD'03, §2).
    */
  private def qFingerprintContainment(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.ArrayMath
    val docs = t(s, dir, "documents")
    val toks = TextStats.tokens(col("text"))
    val grams = ArrayMath.shingleHash64(toks, 5, distinct = false)
    val fp = TextStats.fingerprints(col("text"))
    val fpShifted = TextStats.fingerprints(concat(lit("p0 p1 p2 "), col("text")))
    docs.select(
        size(toks).as("n_toks"),
        size(array_except(fp, grams)).as("n_escaped"),
        size(array_intersect(fp, fpShifted)).as("n_shared"))
      .agg(coalesce(sum(
        when(col("n_escaped") > 0, 1L)
          .when(col("n_toks") >= 12 && col("n_shared") === 0, 1L)
          .otherwise(0L)), lit(0L)).as("n_violations"))
  }

  /** Cross-document repeated 6-token spans
    * ([[graft.text.Dedup.repeatedSpans]]): substring-level boilerplate
    * discovery — narrow HOF span generation, one map-combined exchange.
    */
  private def qSpanDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.repeatedSpans(t(s, dir, "documents"), "doc_id", "text",
        spanTokens = 6, minOccurrences = 2)
      .orderBy(col("span"))

  /** Span masking ([[graft.text.Dedup.maskRepeatedSpans]]): the rewrite
    * step q_span_dedup's discovery feeds — every occurrence of a 6-token
    * span shared by >= 2 documents is removed, token-exactly. The md5 of
    * the rebuilt text makes the check byte-exact without shipping full
    * documents through the compare.
    */
  private def qSpanMask(s: SparkSession, dir: String): DataFrame =
    Dedup.maskRepeatedSpans(t(s, dir, "documents"), "doc_id", "text",
        spanTokens = 6, minDocs = 2)
      .select(col("doc_id"),
        col("n_before").cast("long").as("n_before"),
        col("n_after").cast("long").as("n_after"),
        md5(col("text_masked").cast("binary")).as("masked_md5"))
      .orderBy(col("doc_id"))

  /** Maximal duplicated-substring inventory ([[graft.text.Dedup
    * .exactSubstrSpans]]): Lee-et-al ExactSubstr as duplicated
    * fixed-width-gram coverage + island merge — exact, not approximate
    * (see the operator doc for the covering-window identity).
    * minTokens=4 resolves the fixture's template reuse into
    * multi-island documents (643 spans over 369 docs at sf0.01, most
    * interior — the merge logic is genuinely exercised, not one
    * whole-doc island each). The oracle replays the gram census,
    * duplicated-start coverage and the same lag/running-sum island
    * merge by gram STRING (the engine's xxhash64 grouping is internal;
    * a 64-bit collision is the only divergence mode).
    */
  private def qSubstrSpans(s: SparkSession, dir: String): DataFrame =
    Dedup.exactSubstrSpans(t(s, dir, "documents"), "doc_id", "text",
        minTokens = 4, minOccurrences = 2)
      .orderBy(col("doc_id"), col("span_start"))

  /** Exact-substring cut ([[graft.text.Dedup.exactSubstrCut]]): the
    * application step of q_substr_spans — every token inside any
    * duplicated >= 4-token substring removed, every occurrence (the
    * paper's cut; contrast q_span_mask's frequent-span criterion). The
    * md5 of the rebuilt text makes the rewrite byte-exact in the
    * compare without shipping documents.
    */
  private def qSubstrCut(s: SparkSession, dir: String): DataFrame =
    Dedup.exactSubstrCut(t(s, dir, "documents"), "doc_id", "text",
        minTokens = 4, minOccurrences = 2)
      .select(col("doc_id"),
        col("n_before").cast("long").as("n_before"),
        col("n_after").cast("long").as("n_after"),
        col("n_spans").cast("long").as("n_spans"),
        md5(col("text_dedup").cast("binary")).as("dedup_md5"))
      .orderBy(col("doc_id"))

  /** Substring-level decontamination ([[graft.text.Dedup
    * .exactSubstrContamination]]): q_decontaminate's fixed benchmark
    * slice (every 50th doc among ids < 500 — ten docs at any SF, so the
    * broadcast stays sound at every scale), localized to exact maximal
    * contaminated token spans instead of doc×bench overlap scores.
    * Benchmark docs flag themselves whole-doc — kept in as the
    * deterministic sanity floor (the q_decontaminate convention); at
    * sf0.01 the other 19 spans are genuine cross-doc leakage.
    */
  private def qSubstrDecon(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val bench = docs.filter(col("doc_id") % 50 === 0 && col("doc_id") < 500)
      .select(col("text").as("b_text"))
    Dedup.exactSubstrContamination(docs, "doc_id", "text",
        bench, "b_text", minTokens = 4)
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** This family's slice of [[graft.SparkEntry.queries]]. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_exact" -> (qDedupExact _),
    "q_dedup_jaccard" -> (qDedupJaccard _),
    "q_dup_sources" -> (qDupSources _),
    "q_novelty" -> (qNovelty _),
    "q_dedup_best" -> (qDedupBest _),
    "q_dedup_minhash" -> (qDedupMinhash _),
    "q_minhash_containment" -> (qMinhashContainment _),
    "q_dup_components" -> (qDupComponents _),
    "q_dedup_simhash" -> (qDedupSimhash _),
    "q_fingerprint" -> (qFingerprint _),
    "q_simhash_containment" -> (qSimhashContainment _),
    "q_fingerprint_containment" -> (qFingerprintContainment _),
    "q_span_dedup" -> (qSpanDedup _),
    "q_span_mask" -> (qSpanMask _),
    "q_substr_spans" -> (qSubstrSpans _),
    "q_substr_cut" -> (qSubstrCut _),
    "q_substr_decon" -> (qSubstrDecon _),
  )

  /** This family's slice of [[graft.SparkEntry.oracleSql]]. */
  def oracleSql: Map[String, String] = Map(
    "q_dedup_exact" ->
      """SELECT md5(text) AS fingerprint, min(doc_id) AS keep_id, COUNT(*) AS n_dups
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_novelty" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(w[i:i+4], ' ')
        |      FOR i IN range(1, len(w)-3)]) AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |        WHERE doc_id IS NOT NULL AND text IS NOT NULL)),
        |e AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
        |cnt AS (SELECT shingle, COUNT(*) AS nd FROM e GROUP BY 1),
        |per AS (
        |  SELECT e.doc_id, COUNT(*) AS n_sh,
        |    SUM(CASE WHEN nd = 1 THEN 1 ELSE 0 END) AS n_uniq
        |  FROM e JOIN cnt USING (shingle) GROUP BY 1)
        |SELECT s.doc_id, CAST(COALESCE(n_sh, 0) AS BIGINT) AS n_shingles,
        |  CAST(COALESCE(n_uniq, 0) AS BIGINT) AS n_unique,
        |  CASE WHEN COALESCE(n_sh, 0) > 0 THEN
        |    round(CAST(n_uniq AS DOUBLE) / CAST(n_sh AS DOUBLE), 6)
        |  END AS novelty
        |FROM s LEFT JOIN per ON s.doc_id = per.doc_id
        |ORDER BY s.doc_id""".stripMargin,
    "q_dedup_jaccard" ->
      """WITH s AS (
        |  SELECT doc_id, list_distinct([array_to_string(w[i:i+4], ' ') FOR i IN range(1, len(w)-3)]) AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
        |sz AS (SELECT doc_id, len(sh) AS n_sh FROM s),
        |e AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
        |i AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
        |      FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2)
        |SELECT id_a, id_b, n_inter, n_a + n_b - n_inter AS n_union,
        |  CAST(n_inter AS DOUBLE) / (n_a + n_b - n_inter) AS jaccard
        |FROM i
        |JOIN (SELECT doc_id, n_sh AS n_a FROM sz) sa ON i.id_a = sa.doc_id
        |JOIN (SELECT doc_id, n_sh AS n_b FROM sz) sb ON i.id_b = sb.doc_id
        |ORDER BY id_a, id_b""".stripMargin,
    "q_dup_sources" ->
      """WITH s AS (
        |  SELECT doc_id, list_distinct([array_to_string(w[i:i+4], ' ') FOR i IN range(1, len(w)-3)]) AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
        |sz AS (SELECT doc_id, len(sh) AS n_sh FROM s),
        |e AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
        |i AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
        |      FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2),
        |jp AS (
        |  SELECT id_a, id_b,
        |    CAST(round(CAST(n_inter AS DOUBLE) / (n_a + n_b - n_inter)
        |      * 1000000.0) AS BIGINT) AS jm
        |  FROM i
        |  JOIN (SELECT doc_id, n_sh AS n_a FROM sz) sa ON i.id_a = sa.doc_id
        |  JOIN (SELECT doc_id, n_sh AS n_b FROM sz) sb ON i.id_b = sb.doc_id
        |  WHERE CAST(n_inter AS DOUBLE) / (n_a + n_b - n_inter) >= 0.3),
        |sp AS (
        |  SELECT least(da.source, db.source) AS source_a,
        |    greatest(da.source, db.source) AS source_b, jm
        |  FROM jp
        |  JOIN documents da ON jp.id_a = da.doc_id
        |  JOIN documents db ON jp.id_b = db.doc_id)
        |SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(SUM(jm) AS BIGINT) AS sum_jaccard_micro,
        |  CAST((SUM(CAST(jm AS HUGEINT)) * 2 + COUNT(*))
        |    // (CAST(COUNT(*) AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 AS mean_jaccard
        |FROM sp GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin,
    "q_dedup_best" ->
      """WITH RECURSIVE s AS (
        |  SELECT doc_id, list_distinct([array_to_string(w[i:i+4], ' ') FOR i IN range(1, len(w)-3)]) AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
        |sz AS (SELECT doc_id, len(sh) AS n_sh FROM s),
        |e AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
        |i AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
        |      FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2),
        |jp AS (
        |  SELECT id_a, id_b FROM i
        |  JOIN (SELECT doc_id, n_sh AS n_a FROM sz) sa ON i.id_a = sa.doc_id
        |  JOIN (SELECT doc_id, n_sh AS n_b FROM sz) sb ON i.id_b = sb.doc_id
        |  WHERE CAST(n_inter AS DOUBLE) / (n_a + n_b - n_inter) >= 0.5),
        |edges AS (SELECT id_a AS a, id_b AS b FROM jp UNION SELECT id_b, id_a FROM jp),
        |reach(a, b) AS (
        |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
        |  UNION
        |  SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a),
        |comp AS (SELECT a AS v, min(b) AS label FROM reach GROUP BY a),
        |scored AS (
        |  SELECT c.v, c.label, d.n_chars
        |  FROM comp c JOIN documents d ON c.v = d.doc_id),
        |win AS (
        |  SELECT label, CAST(min([-n_chars, v])[2] AS BIGINT) AS keep
        |  FROM scored GROUP BY label),
        |losers AS (SELECT v FROM scored WHERE v NOT IN (SELECT keep FROM win))
        |SELECT doc_id, n_chars FROM documents
        |WHERE doc_id NOT IN (SELECT v FROM losers)
        |ORDER BY doc_id
        |""".stripMargin,
    "q_span_dedup" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |sp AS (
        |  SELECT doc_id, array_to_string(ts[i:i+5], ' ') AS span
        |  FROM tok CROSS JOIN LATERAL
        |    (SELECT unnest(generate_series(1, len(ts) - 5)) AS i))
        |SELECT span, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
        |FROM sp GROUP BY span HAVING count(*) >= 2
        |ORDER BY span""".stripMargin,
    // Replays the mask by span STRING (the operator's xxhash64 grouping is
    // internal; a 64-bit collision is the only divergence mode): covered
    // positions from frequent-span starts, rebuild by ordered string_agg.
    "q_span_mask" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sp AS (
        |  SELECT doc_id, unnest([{'s': i, 'sp': array_to_string(w[i:i+5], ' ')}
        |    FOR i IN range(1, len(w) - 4)]) AS u
        |  FROM w),
        |s2 AS (SELECT doc_id, u.s AS start, u.sp AS span FROM sp),
        |f AS (
        |  SELECT span FROM s2 GROUP BY 1
        |  HAVING COUNT(DISTINCT doc_id) >= 2),
        |cov AS (
        |  SELECT DISTINCT s2.doc_id, s2.start + d.d AS pos
        |  FROM s2 JOIN f USING (span)
        |  CROSS JOIN (SELECT unnest(range(0, 6)) AS d) d),
        |tok AS (
        |  SELECT doc_id, unnest([{'p': i, 't': w[i]}
        |    FOR i IN range(1, len(w) + 1)]) AS u
        |  FROM w),
        |kept AS (
        |  SELECT t.doc_id, string_agg(t.u.t, ' ' ORDER BY t.u.p) AS text_masked,
        |    COUNT(*) AS n_after
        |  FROM tok t LEFT JOIN cov ON cov.doc_id = t.doc_id AND cov.pos = t.u.p
        |  WHERE cov.pos IS NULL GROUP BY t.doc_id)
        |SELECT w.doc_id, len(w.w) AS n_before,
        |  COALESCE(k.n_after, 0) AS n_after,
        |  md5(COALESCE(k.text_masked, '')) AS masked_md5
        |FROM w LEFT JOIN kept k USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // Replays ExactSubstr by gram STRING: census, duplicated-start
    // coverage, then the identical lag/running-sum island merge.
    "q_substr_spans" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sp AS (
        |  SELECT doc_id, unnest([{'s': i, 'sp': array_to_string(w[i:i+3], ' ')}
        |    FOR i IN range(1, len(w) - 2)]) AS u
        |  FROM w),
        |s2 AS (SELECT doc_id, u.s - 1 AS p, u.sp AS g FROM sp),
        |dupg AS (SELECT g FROM s2 GROUP BY g HAVING COUNT(*) >= 2),
        |dup AS (SELECT doc_id, p FROM s2 JOIN dupg USING (g)),
        |mk AS (
        |  SELECT doc_id, p,
        |    CASE WHEN lag(p) OVER (PARTITION BY doc_id ORDER BY p) IS NOT NULL
        |          AND p <= lag(p) OVER (PARTITION BY doc_id ORDER BY p) + 4
        |         THEN 0 ELSE 1 END AS brk
        |  FROM dup),
        |isl AS (SELECT doc_id, p,
        |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY p) AS isl FROM mk)
        |SELECT doc_id, CAST(MIN(p) AS INT) AS span_start,
        |  CAST(MAX(p) + 4 AS INT) AS span_end,
        |  CAST(MAX(p) + 4 - MIN(p) AS INT) AS span_tokens
        |FROM isl GROUP BY doc_id, isl
        |ORDER BY doc_id, span_start""".stripMargin,
    // The cut replay: q_substr_spans' islands expanded to covered
    // positions, anti-joined against the token stream, rebuilt by
    // ordered string_agg (the q_span_mask convention).
    "q_substr_cut" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sp AS (
        |  SELECT doc_id, unnest([{'s': i, 'sp': array_to_string(w[i:i+3], ' ')}
        |    FOR i IN range(1, len(w) - 2)]) AS u
        |  FROM w),
        |s2 AS (SELECT doc_id, u.s - 1 AS p, u.sp AS g FROM sp),
        |dupg AS (SELECT g FROM s2 GROUP BY g HAVING COUNT(*) >= 2),
        |dup AS (SELECT doc_id, p FROM s2 JOIN dupg USING (g)),
        |mk AS (
        |  SELECT doc_id, p,
        |    CASE WHEN lag(p) OVER (PARTITION BY doc_id ORDER BY p) IS NOT NULL
        |          AND p <= lag(p) OVER (PARTITION BY doc_id ORDER BY p) + 4
        |         THEN 0 ELSE 1 END AS brk
        |  FROM dup),
        |isl AS (SELECT doc_id, p,
        |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY p) AS isl FROM mk),
        |spans AS (
        |  SELECT doc_id, MIN(p) AS s, MAX(p) + 4 AS e
        |  FROM isl GROUP BY doc_id, isl),
        |nsp AS (SELECT doc_id, COUNT(*) AS n_spans FROM spans GROUP BY 1),
        |cov AS (SELECT doc_id, unnest(range(s, e)) AS pos FROM spans),
        |tok AS (
        |  SELECT doc_id, unnest([{'p': i - 1, 't': w[i]}
        |    FOR i IN range(1, len(w) + 1)]) AS u
        |  FROM w),
        |kept AS (
        |  SELECT t.doc_id, string_agg(t.u.t, ' ' ORDER BY t.u.p) AS text_dedup,
        |    COUNT(*) AS n_after
        |  FROM tok t LEFT JOIN cov ON cov.doc_id = t.doc_id AND cov.pos = t.u.p
        |  WHERE cov.pos IS NULL GROUP BY t.doc_id)
        |SELECT w.doc_id, CAST(len(w.w) AS BIGINT) AS n_before,
        |  CAST(COALESCE(k.n_after, 0) AS BIGINT) AS n_after,
        |  CAST(COALESCE(n.n_spans, 0) AS BIGINT) AS n_spans,
        |  md5(COALESCE(k.text_dedup, '')) AS dedup_md5
        |FROM w LEFT JOIN kept k USING (doc_id) LEFT JOIN nsp n USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // Replays the contamination probe by gram STRING: benchmark gram
    // set, covered corpus starts, the identical island merge.
    "q_substr_decon" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sp AS (
        |  SELECT doc_id, unnest([{'s': i, 'sp': array_to_string(w[i:i+3], ' ')}
        |    FOR i IN range(1, len(w) - 2)]) AS u
        |  FROM w),
        |s2 AS (SELECT doc_id, u.s - 1 AS p, u.sp AS g FROM sp),
        |bg AS (SELECT DISTINCT g FROM s2 WHERE doc_id % 50 = 0 AND doc_id < 500),
        |hit AS (SELECT doc_id, p FROM s2 JOIN bg USING (g)),
        |mk AS (
        |  SELECT doc_id, p,
        |    CASE WHEN lag(p) OVER (PARTITION BY doc_id ORDER BY p) IS NOT NULL
        |          AND p <= lag(p) OVER (PARTITION BY doc_id ORDER BY p) + 4
        |         THEN 0 ELSE 1 END AS brk
        |  FROM hit),
        |isl AS (SELECT doc_id, p,
        |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY p) AS isl FROM mk)
        |SELECT doc_id, CAST(MIN(p) AS INT) AS span_start,
        |  CAST(MAX(p) + 4 AS INT) AS span_end,
        |  CAST(MAX(p) + 4 - MIN(p) AS INT) AS span_tokens
        |FROM isl GROUP BY doc_id, isl
        |ORDER BY doc_id, span_start""".stripMargin,
    "q_minhash_containment" ->
      "SELECT CAST(0 AS BIGINT) AS n_violations",
    "q_dup_components" ->
      "SELECT CAST(0 AS BIGINT) AS n_violations",
    "q_simhash_containment" ->
      "SELECT CAST(0 AS BIGINT) AS n_violations",
    "q_fingerprint_containment" ->
      "SELECT CAST(0 AS BIGINT) AS n_violations",
  )
}
