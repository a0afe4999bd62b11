package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Observe
import graft.sources.Sources

/** Embedding similarity search.
  *
  * Three paths, same contract (one exact rerank: `(cos desc, neighbor_id)`):
  *   - [[bruteForceTopK]]: exact cosine top-k via a broadcast cross join —
  *     correct baseline; cost is |queries| × |corpus|, only viable when the
  *     query set is small (it is broadcast).
  *   - [[lshTopK]]: random-hyperplane LSH — corpus and queries are bucketed
  *     by sign-bit signature and only same-bucket pairs are scored. This is
  *     the 100 TB path: the bucket join replaces the cross product, and
  *     bucket count (2^planes) scales with corpus size.
  *   - [[ivfTopKDeterministic]]: the same shape with learned instead of
  *     random partitions — integer k-means cells ([[ivfIndexFor]]), probed
  *     by [[ivfProbe]], saved and reloaded by [[ivfSave]]/[[ivfLoad]].
  *
  * Vectors are L2-normalized ONCE up front (one pass over the corpus), so
  * per-pair work is a single sequential dot product — a left-to-right
  * `aggregate` fold over double casts, bit-reproducible by any sequential
  * reference implementation. All codegen, no UDF.
  */
object Similarity {

  def toDoubleArr(a: Column): Column = transform(a, x => x.cast("double"))

  /** Sequential dot product of two double arrays — the codegen'd native
    * expression ([[graft.functions.DotProduct]]): same left-to-right
    * multiply-add semantics as an `aggregate`/`zip_with` fold, ~10× faster
    * (no interpreted HOF, no intermediate arrays).
    */
  def dot(a: Column, b: Column): Column = graft.functions.ArrayMath.dotF64(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Division-safe norm: identical to [[norm]] for any nonzero vector
    * (1e-300 never wins the max); zero vectors divide to 0 instead of
    * raising ANSI DIVIDE_BY_ZERO.
    */
  private def safeNorm(a: Column): Column = greatest(norm(a), lit(1e-300))

  /** Cosine via normalize-then-dot (matches [[normalized]] pipelines);
    * zero vectors yield cosine 0, not an error.
    */
  def cosine(a: Column, b: Column): Column = {
    val (da, db) = (toDoubleArr(a), toDoubleArr(b))
    dot(da, db) / (safeNorm(da) * safeNorm(db))
  }

  /** Project to (id, L2-normalized double vector). Both the vector and its
    * norm are bound as lambda variables ([[graft.functions.ArrayMath.bound]])
    * — plain column aliases would be inlined by CollapseProject into the
    * per-element division lambda and the O(d) norm would be re-evaluated
    * per element (O(d²) per row).
    */
  def normalized(df: DataFrame, idCol: String, vecCol: String,
                 idAlias: String, vecAlias: String): DataFrame = {
    import graft.functions.ArrayMath.bound
    df.select(col(idCol).as(idAlias),
      bound(toDoubleArr(col(vecCol))) { dv =>
        bound(greatest(sqrt(dot(dv, dv)), lit(1e-300))) { n =>
          transform(dv, x => x / n) // zero vectors stay zero (n floor)
        }
      }.as(vecAlias))
  }

  /** Exact top-k neighbors for each query vector. `queries` should be
    * small (it is broadcast to every executor); `corpus` streams, and a
    * corpus row without a vector is never a neighbor (as in the IVF).
    * Deterministic: ties broken by neighbor id.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = normalized(queries, idCol, vecCol, "query_id", "qv")
    val c = normalized(corpus.filter(col(vecCol).isNotNull), idCol, vecCol, "neighbor_id", "cv")
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), dot(col("qv"), col("cv")).as("cos"))
    rankTopK(scored, k)
  }

  /** The one exact rerank behind every top-k search: per `query_id`,
    * `rank` = row number by `(cos desc, neighbor_id)`, kept while
    * `rank <= k`.
    */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Symmetric int8 quantization of an embedding: `scale = maxAbs/127`,
    * `q[i] = round(v[i]/scale) ∈ [-127, 127]`, returned as
    * `struct(scale: float, q: array<tinyint>)` — 4× smaller than float32
    * on disk and (more importantly at 100 TB) in every shuffle that
    * carries embeddings. Reconstruction error is bounded by `scale/2`
    * per element. All codegen-able Catalyst; the max-abs and scale are
    * bound once per row ([[graft.functions.ArrayMath.bound]]) so
    * CollapseProject cannot inline the O(d) reduction into the
    * per-element lambda.
    */
  def quantize(vec: Column): Column = {
    import graft.functions.ArrayMath.bound
    bound(toDoubleArr(vec)) { dv =>
      // The scale is rounded through float32 BEFORE quantizing: the struct
      // stores a float, so quantizer and dequantizer must use the same
      // value — rounding with the unrounded double scale would let the
      // reconstruction error exceed scale/2 by ~127·2^-24·scale on
      // elements landing near a half-integer quotient.
      bound((greatest(array_max(transform(dv, x => abs(x))), lit(1e-30)) / 127.0)
          .cast("float").cast("double")) { scale =>
        struct(scale.cast("float").as("scale"),
          transform(dv, x => round(x / scale).cast("tinyint")).as("q"))
      }
    }
  }

  /** Reconstruct a double vector from [[quantize]]'s struct. */
  def dequantize(qv: Column): Column = {
    import graft.functions.ArrayMath.bound
    bound(qv.getField("scale").cast("double")) { s =>
      transform(qv.getField("q"), x => x.cast("double") * s)
    }
  }

  /** ±1 sign matrix for [[randomProjection]], derived from md5(seed:j:d)
    * parity — the same bits any engine recomputes from the formula, so
    * the projection is a shared artifact with NO trained state to ship.
    */
  def jlSigns(outDim: Int, inDim: Int, seed: String): Seq[Seq[Long]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until outDim).map(j => (0 until inDim).map { d =>
      md.reset()
      val hex = md.digest(s"$seed:$j:$d".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if (java.lang.Long.parseLong(hex.take(8), 16) % 2 == 0) 1L else -1L
    })
  }

  /** Johnson-Lindenstrauss sign random projection — the cheap
    * dimensionality cut before LSH/IVF when raw embeddings are too wide
    * (Achlioptas 2003: ±1 entries preserve pairwise distances in
    * expectation as well as Gaussians):
    *
    *   y_j = Σ_d sign(j,d) · x_d / √outDim
    *
    * One narrow per-row expression: inputs micro-quantize, each output
    * coordinate is an exact signed-long fold against a LITERAL sign row
    * (no join, no shuffle, broadcast with the plan — the
    * [[graft.text.Classify]] weight discipline), one division at the
    * end. Outputs are the EXACT micro quotients, deliberately not 6-dp
    * rounded: an integer sum over √outDim (a power of two for the usual
    * dims) parks values on half-micro boundaries where decimal-vs-
    * binary rounding diverges across engines (the q_holt lesson), while
    * the raw quotient of identical integers is the identical double
    * everywhere. Vectors whose length ≠ inDim yield null (loud, not
    * silently ragged).
    */
  def randomProjection(vec: Column, outDim: Int, inDim: Int,
                       seed: String = "jl"): Column = {
    require(outDim >= 1 && inDim >= 1, s"bad dims: $outDim x $inDim")
    val signs = jlSigns(outDim, inDim, seed)
    val invScale = lit(math.sqrt(outDim.toDouble))
    import graft.functions.ArrayMath.bound
    bound(transform(vec, x => round(x.cast("double") * lit(1e6), 0).cast("long"))) { v =>
      when(size(v) === inDim,
        transform(sequence(lit(0), lit(outDim - 1)), j =>
          aggregate(
            zip_with(v, lit(signs.map(_.toArray).toArray)
              .getItem(j.cast("int")), (x, s) => x * s),
            lit(0L), (acc, t) => acc + t)
            .cast("double") / invScale / lit(1e6)))
    }
  }

  /** Deterministic random hyperplanes (fixed seed), as literal arrays. */
  def randomPlanes(nPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-bit LSH bucket id for a vector: bit i = sign(v · plane_i). */
  def lshBucket(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val plane = array(p.map(lit): _*)
      when(dot(vec, plane) >= 0, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Approximate top-k: score only same-bucket pairs. Recall depends on
    * plane count (fewer planes → bigger buckets → higher recall, higher
    * cost). `nProbe > 1` enables multi-probe: each query ALSO searches the
    * buckets reached by flipping one sign bit — near-boundary neighbors
    * that landed one hyperplane away become visible, raising recall
    * without growing bucket sizes (cost scales with probed buckets, still
    * nowhere near the cross product). `nProbe` counts probed buckets per
    * query, capped at 1 + nPlanes (the exact bucket plus every 1-bit
    * flip).
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame,
              idCol: String, vecCol: String, k: Int,
              nPlanes: Int = 6, dim: Int = 64, nProbe: Int = 1): DataFrame = {
    val planes = randomPlanes(nPlanes, dim)
    val probes = math.min(nProbe, 1 + nPlanes)
    val q0 = normalized(queries, idCol, vecCol, "query_id", "qv")
      .withColumn("__bucket", lshBucket(col("qv"), planes))
    // exact bucket first, then 1-bit-flip buckets (in plane order)
    val probeBuckets = array((0 until probes).map {
      case 0 => col("__bucket")
      case i => GraftBitops.xor(col("__bucket"), lit(1 << (i - 1)))
    }: _*)
    val q = q0.select(col("query_id"), col("qv"),
      explode(array_distinct(probeBuckets)).as("bucket"))
    val c = normalized(corpus, idCol, vecCol, "neighbor_id", "cv")
      .withColumn("bucket", lshBucket(col("cv"), planes))
    val scored = c.join(broadcast(q), "bucket")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), dot(col("qv"), col("cv")).as("cos"))
      .distinct() // a neighbor can surface from several probed buckets
    rankTopK(scored, k)
  }

  private object GraftBitops {
    def xor(a: Column, b: Column): Column = a.bitwiseXOR(b)
  }

  /** A trained IVF index: integer lattice centers (nCells × dim longs —
    * driver-sized), the `latticeScale` the corpus was quantized with, and
    * the cell-assigned, L2-normalized corpus `(neighbor_id, cluster, cv)`,
    * persisted so probe-time queries never re-normalize or re-assign.
    * Train once per corpus ([[ivfIndexFor]]); every query then only
    * probes ([[ivfProbe]]).
    */
  final case class IvfIndex(centers: IndexedSeq[Seq[Long]], latticeScale: Int,
                            cells: DataFrame) {
    def unpersist(): Unit = { cells.unpersist(); () }
  }

  /** The integer lattice IVF trains and probes on: every component
    * scaled by `latticeScale` and rounded to a long.
    */
  private def latt(c: Column, latticeScale: Int): Column =
    transform(c, x => round(x.cast("double") * latticeScale).cast("long"))

  /** Keyed by (session, canonicalized corpus plan, params): repeated
    * probes over the same corpus reuse one trained index instead of
    * paying the iterative k-means fit per invocation.
    *
    * Bounded LRU (like [[graft.config.Validation]]'s file cache): a
    * long-lived driver probing many distinct filtered corpora would
    * otherwise accumulate persisted cell tables without limit. Evicted
    * indexes are unpersisted as they fall out.
    *
    * CONTRACT: the memo assumes the corpus is an immutable snapshot for
    * the life of the session (the norm for training-data builds). If the
    * underlying files are overwritten in place, the plan hash — and so
    * the cached index — goes stale: call [[clearIvfCache]] (or manage an
    * explicit [[ivfSave]]/[[ivfLoad]] index) in that case.
    */
  private type IvfKey = (SparkSession, Int, String, String, Int, Int, Int)
  private[text] val maxIvfCacheEntries = 8
  private val ivfCache =
    new java.util.LinkedHashMap[IvfKey, IvfIndex](16, 0.75f, /*accessOrder=*/ true) {
      override def removeEldestEntry(e: java.util.Map.Entry[IvfKey, IvfIndex]): Boolean =
        if (size() > maxIvfCacheEntries) { e.getValue.unpersist(); true } else false
    }

  /** Entries in the IVF memo (the [[graft.Caches]] registry hook — Bench
    * uses it to detect that a query populated a memo).
    */
  private[graft] def memoEntryCount: Int = ivfCache.synchronized(ivfCache.size())

  /** Drop every memoized index and unpersist their cell tables (use
    * after overwriting a corpus in place, or to release executor
    * storage on a long-lived driver).
    */
  def clearIvfCache(): Unit = ivfCache.synchronized {
    ivfCache.values.forEach(_.unpersist())
    ivfCache.clear()
  }

  /** Train (or fetch from the memo) the IVF index of `corpus`: cells
    * come from [[Cluster.kmeansIntWithCenters]] over the globally
    * quantized integer lattice — every assignment and center is exact
    * integer arithmetic an independent engine replays bit-for-bit.
    * Corpus rows with a null vector are dropped by the trainer and never
    * enter a cell. This is the one expensive step ([[Cluster.kmeansInt]]'s
    * bounded-driver loop, k·d integers per round); it runs once per
    * (session, corpus snapshot, params). The fit runs outside the memo
    * monitor; if two threads race on one key, one insert wins and the
    * loser's cells are unpersisted instead of leaking.
    */
  def ivfIndexFor(corpus: DataFrame, idCol: String, vecCol: String,
                  nCells: Int = 16, iters: Int = 2,
                  latticeScale: Int = 1000): IvfIndex = {
    val key: IvfKey = (corpus.sparkSession,
      corpus.queryExecution.analyzed.semanticHash(), idCol, vecCol,
      nCells, iters, latticeScale)
    ivfCache.synchronized(Option(ivfCache.get(key))).getOrElse {
      val corpusQ = corpus.select(col(idCol), col(vecCol))
        .withColumn("__q", latt(col(vecCol), latticeScale))
      val (assigned, centers) =
        Cluster.kmeansIntWithCenters(corpusQ, idCol, "__q", nCells, iters)
      val cn = normalized(corpus, idCol, vecCol, "neighbor_id", "cv")
      val cells = assigned.select(col(idCol).as("neighbor_id"), col("cluster"))
        .join(cn, "neighbor_id")
        .persist()
      val fresh = IvfIndex(centers, latticeScale, cells)
      ivfCache.synchronized {
        Option(ivfCache.get(key)) match {
          case Some(raced) => fresh.unpersist(); raced
          case None        => ivfCache.put(key, fresh); fresh
        }
      }
    }
  }

  /** Scored candidate pairs `(query_id, neighbor_id, cos)` from probing
    * `index` — the shared stage under [[ivfProbe]] and
    * [[hardNegativesDeterministic]] (rank and any label filter belong to
    * the caller).
    */
  private def ivfCandidates(index: IvfIndex, queries: DataFrame,
                            idCol: String, vecCol: String, nProbe: Int): DataFrame = {
    val qn = normalized(queries, idCol, vecCol, "query_id", "qv")
    val qq = queries.select(col(idCol).as("query_id"),
      latt(col(vecCol), index.latticeScale).as("__q"))
    // centers are k·d driver-held integers: distances attach as literal
    // expressions (narrow map), probe order = [distance, cluster] struct
    // sort — integer-exact, tie toward the smaller cluster id
    val cellStructs = array(Cluster.distances(col("__q"), index.centers): _*)
    val probes = qq.select(col("query_id"),
        explode(slice(array_sort(cellStructs), 1, nProbe)).as("__cell"))
      .select(col("query_id"), col("__cell.c").as("cluster"))
    probes.join(qn, "query_id").join(index.cells, "cluster")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), dot(col("qv"), col("cv")).as("cos"))
  }

  /** Probe a trained index: each query ranks the literal integer centers
    * by lattice distance (cluster-id tiebreak), keeps its `nProbe`
    * nearest cells, and scores only those cells' members with the exact
    * sequential-fold cosine — so any returned pair's score equals the
    * brute-force score. No fit job; probing shuffles the corpus once on
    * its cell id, and candidate work is bounded by the probed cells — no
    * cross product anywhere.
    */
  def ivfProbe(index: IvfIndex, queries: DataFrame,
               idCol: String, vecCol: String, k: Int, nProbe: Int = 3): DataFrame =
    rankTopK(ivfCandidates(index, queries, idCol, vecCol, nProbe), k)

  /** Persist a trained index: centers (tiny, coalesced to one file, as
    * `(cluster, center, lattice_scale)`) and the cell-assigned corpus,
    * both parquet. At 100 TB this is the real train-once contract — the
    * index is built alongside the corpus build and every query JOB (not
    * just query invocation) reloads it instead of re-fitting; the cells
    * table can additionally be bucketed/sorted by `cluster` at write
    * time so probe joins skip the shuffle entirely.
    */
  def ivfSave(index: IvfIndex, path: String): Unit = {
    val spark = index.cells.sparkSession
    import spark.implicits._
    index.centers.zipWithIndex.map { case (c, i) => (i, c, index.latticeScale) }
      .toDF("cluster", "center", "lattice_scale")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centers")
    index.cells.write.mode("overwrite").parquet(s"$path/cells")
  }

  /** Reload a persisted index ([[ivfSave]]); probe-ready, no fit job.
    * The files come from outside the program, so the centers table must
    * hold one `lattice_scale`, cluster ids `0 until n`, and equal-length
    * non-null centers.
    */
  def ivfLoad(spark: SparkSession, path: String): IvfIndex = {
    val rows = Observe.sortedCollect(Sources.readParquet(spark, s"$path/centers")
      .select(col("cluster"), col("center"), col("lattice_scale")), "cluster")
    val scales = rows.map(_.get(2)).distinct
    require(scales.length == 1 && scales.head != null,
      s"ivfLoad: $path/centers must hold one lattice_scale, got ${scales.mkString(", ")}")
    require(rows.indices.forall(i => rows(i).get(0) == i),
      s"ivfLoad: $path/centers cluster ids must be 0 until ${rows.length}")
    val centers = rows.map(_.getSeq[java.lang.Long](1))
    require(centers.forall(c => c != null && c.nonEmpty &&
        c.length == centers.head.length && !c.contains(null)),
      s"ivfLoad: $path/centers must hold non-null centers of one length")
    IvfIndex(centers.map(_.map(_.longValue)).toIndexedSeq, rows.head.getInt(2),
      Sources.readParquet(spark, s"$path/cells"))
  }

  /** Deterministic IVF top-k: [[ivfIndexFor]] (train-once, memoized)
    * then [[ivfProbe]] — the full pipeline, training included, is
    * SQL-oracleable.
    *
    * With `nProbe = nCells` every cell is probed, so the result equals
    * [[bruteForceTopK]] (same neighbors, ranks and cosine bits) as long
    * as `k` stays below the number of corpus rows with a vector: a
    * corpus row with a null vector is never returned here (the trainer
    * drops it), while brute force ranks it last with a null cosine.
    */
  def ivfTopKDeterministic(queries: DataFrame, corpus: DataFrame,
                           idCol: String, vecCol: String, k: Int,
                           nCells: Int = 16, iters: Int = 2, nProbe: Int = 3,
                           latticeScale: Int = 1000): DataFrame =
    ivfProbe(ivfIndexFor(corpus, idCol, vecCol, nCells, iters, latticeScale),
      queries, idCol, vecCol, k, nProbe)

  /** ANN hard-negative mining — contrastive training's "most confusable
    * wrong answers": for each query, the top-`k` nearest corpus vectors
    * whose `labelCol` DIFFERS from the query's (the same-label nearest
    * are positives, not negatives). The filter runs BEFORE ranking, so a
    * query surrounded by same-label neighbors still fills its k from the
    * probed cells rather than returning fewer-but-wrong rows — and
    * unlike over-fetch-then-filter compositions, no negative inside the
    * probed cells is ever lost to a fixed fetch multiplier.
    *
    * Rides the deterministic IVF ([[ivfTopKDeterministic]]'s trained
    * cells, same memo): one broadcast-literal probe map, one cell join,
    * label attachment by id-keyed joins, per-query WindowGroupLimit
    * rank. Fully oracle-replayable — training, probing, scoring and the
    * label filter are all integer/IEEE-exact.
    */
  def hardNegativesDeterministic(queries: DataFrame, corpus: DataFrame,
                                 idCol: String, vecCol: String, labelCol: String,
                                 k: Int, nCells: Int = 16, iters: Int = 2,
                                 nProbe: Int = 3,
                                 latticeScale: Int = 1000): DataFrame = {
    val cand = ivfCandidates(ivfIndexFor(corpus, idCol, vecCol, nCells, iters, latticeScale),
      queries, idCol, vecCol, nProbe)
    val qLab = queries.select(col(idCol).as("query_id"), col(labelCol).as("__ql"))
    val nLab = corpus.select(col(idCol).as("neighbor_id"), col(labelCol).as("__nl"))
    rankTopK(cand.join(qLab, "query_id").join(nLab, "neighbor_id")
      .filter(col("__ql") =!= col("__nl"))
      .select(col("query_id"), col("neighbor_id"), col("cos")), k)
  }

  /** Embedding near-duplicate pairs above a cosine threshold. Brute-force
    * pair generation at test scale; at corpus scale use
    * [[lshNearDupPairs]] (same filter, bucket-bounded candidates).
    */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double): DataFrame = {
    val a = normalized(df, idCol, vecCol, "id_a", "va")
    val b = normalized(df, idCol, vecCol, "id_b", "vb")
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), dot(col("va"), col("vb")).as("cos"))
      .filter(col("cos") > threshold)
  }

  /** Approximate near-dup pairs: only same-LSH-bucket pairs are scored.
    * High-cosine pairs land in the same bucket with probability
    * `(1 - θ/π)^nPlanes` (θ = angle), so a near-dup threshold like 0.9
    * keeps recall high at few planes while the bucket join replaces the
    * O(n²) cross product entirely.
    *
    * Scale shape: the one-band case of [[lshNearDupPairsBanded]]
    * (`bandedPlanes(nPlanes, 1, dim)` draws exactly `randomPlanes(nPlanes,
    * dim)`): `(bucket, id)` rows shuffle once, and each same-bucket pair
    * is reranked once against the normalized vectors.
    */
  def lshNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                      threshold: Double, nPlanes: Int = 6, dim: Int = 64): DataFrame =
    lshNearDupPairsBanded(df, idCol, vecCol, threshold, nPlanes, nBands = 1, dim)

  /** The deterministic plane sets behind [[lshNearDupPairsBanded]]:
    * `nBands` independent groups of `nPlanes` Gaussian hyperplanes drawn
    * from one seeded stream. Exposed so an oracle can replicate the
    * bucketing bit-for-bit (sign bits of sequential-fold dot products
    * reproduce across engines — the q_embed_pairs discipline).
    */
  def bandedPlanes(nPlanes: Int, nBands: Int, dim: Int,
                   seed: Long = 42L): Seq[Seq[Seq[Double]]] =
    randomPlanes(nPlanes * nBands, dim, seed).grouped(nPlanes).toSeq

  /** Banded (multi-table) LSH near-dup pairs — the standard recall knob
    * over [[lshNearDupPairs]]: a pair is a candidate if it shares a
    * bucket in ANY of `nBands` independent plane sets, so per-pair
    * recall is `1 - (1 - p^nPlanes)^nBands` (p = per-plane agreement)
    * instead of `p^nPlanes`. Candidates from all bands pass the same
    * EXACT cosine filter — banding affects which pairs are examined,
    * never the score. Ids are row keys (unique, as `vec_id` is).
    *
    * Scale shape: candidate generation, then one exact rerank.
    *  - Candidates: each row keeps its id and its `nBands` bucket ids as
    *    one int array, posexploded onto `(band, bucket)`; only those keys
    *    shuffle (one exchange, read by both self-join sides), never a
    *    vector. A pair sharing buckets in several bands is kept only in
    *    the FIRST band where its two bucket arrays agree, so every pair
    *    comes out exactly once with no `distinct` exchange. Pair work is
    *    bounded by the largest single bucket; no cross product anywhere.
    *  - Rerank: each candidate joins the normalized vectors on `id_a` and
    *    on `id_b` (one broadcast, reused by the second join, when the
    *    planner judges the vectors small; a shuffle join otherwise) and is
    *    scored once with the sequential-fold dot product.
    *
    * Tuning: at production near-dup thresholds the defaults are strong
    * (cos ≥ 0.9 → per-plane agreement p ≈ 0.86, recall ≈ 0.87;
    * cos ≥ 0.95 → ≈ 0.95). At loose thresholds (≤ 0.5, θ ≥ 60°) recall
    * collapses for ANY parameters whose candidate count stays sublinear
    * in n² — that regime is inherently brute-force (the q_lsh_recall law
    * measures the gap against the exact baseline rather than hiding it).
    * Fewer planes per band + more bands raises recall at proportional
    * candidate cost.
    */
  def lshNearDupPairsBanded(df: DataFrame, idCol: String, vecCol: String,
                            threshold: Double, nPlanes: Int = 6, nBands: Int = 4,
                            dim: Int = 64, seed: Long = 42L): DataFrame = {
    val nv = normalized(df, idCol, vecCol, "__id", "__v")
    val keyed = nv
      .select(col("__id"), array(bandedPlanes(nPlanes, nBands, dim, seed)
        .map(lshBucket(col("__v"), _)): _*).as("__bk"))
      // _outer: same rows (never an empty array), no inferred size filter recomputing __bk
      .select(col("__id"), col("__bk"), posexplode_outer(col("__bk")).as(Seq("band", "bucket")))
      .repartition(col("band"), col("bucket"))
    def side(id: String, bk: String): DataFrame =
      keyed.select(col("band"), col("bucket"), col("__id").as(id), col("__bk").as(bk))
    val firstBand = array_position(zip_with(col("bka"), col("bkb"), _ === _), true) - 1
    def vectors(id: String, v: String): DataFrame = nv.select(col("__id").as(id), col("__v").as(v))
    side("id_a", "bka").join(side("id_b", "bkb"), Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b") && firstBand === col("band"))
      .join(vectors("id_a", "va"), "id_a").join(vectors("id_b", "vb"), "id_b")
      .select(col("id_a"), col("id_b"), dot(col("va"), col("vb")).as("cos"))
      .filter(col("cos") > threshold)
  }

  /** Int8 scalar-quantization audit — the "can I ship 4× smaller
    * vectors?" readout before committing an index to SQ8: per-dim
    * min/max train a 256-level affine codebook (the FAISS
    * ScalarQuantizer recipe), every vector round-trips through it, and
    * the audit reports how much cosine geometry the codes preserve.
    * One row: `(n_vectors, dims, avg_cos_nano, mean_abs_err_pico,
    * max_abs_err_pico)` — all BIGINT (avg reconstruction cosine in
    * nano units; per-element absolute error in pico units).
    *
    * Determinism: the codebook bounds are raw data values (no
    * arithmetic — min/max of the cast doubles, identical on any
    * engine); codes and reconstructions are fixed IEEE trees; every
    * per-element product/error pico-quantizes BEFORE the per-row sums
    * (so an order-free engine reproduces the sequential fold exactly),
    * and per-row cosines nano-quantize before the global sum.
    *
    * Scale shape: pass 1 is one posexplode + dim-keyed aggregation
    * (dims-bounded result, collected under the bounded-driver-state
    * contract — 2 doubles per dim); pass 2 ships the codebook WITH THE
    * PLAN as literal arrays (the q_classify posture) so the round-trip
    * is pure per-row codegen — zero joins, zero shuffles before the
    * 1-row reduce.
    */
  def sq8Audit(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val rows = df.select(col(idCol).as("__id"), toDoubleArr(col(vecCol)).as("__v"))
      .filter(col("__id").isNotNull && col("__v").isNotNull)
    val stats = Observe.sortedCollect(rows.select(posexplode(col("__v")).as(Seq("__i", "__x")))
      .groupBy(col("__i"))
      .agg(min(col("__x")).as("__mn"), max(col("__x")).as("__mx")), "__i")
    require(stats.nonEmpty, "sq8Audit needs at least one vector")
    val minArr = stats.map(_.getDouble(1))
    val rangeArr = stats.map(r => r.getDouble(2) - r.getDouble(1))
    val minLit = typedLit(minArr.toSeq)
    val rangeLit = typedLit(rangeArr.toSeq)
    def pico(c: Column): Column = round(c * lit(1e12), 0).cast("long")
    val dxArr = zip_with(col("__v"), minLit, (x, mn) => x - mn)
    val codeArr = zip_with(dxArr, rangeLit, (dx, rg) =>
      when(rg > 0.0, greatest(lit(0.0), least(lit(255.0),
        round(dx / rg * lit(255.0), 0)))).otherwise(lit(0.0)))
    val scaled = zip_with(codeArr, rangeLit, (c, rg) => c * rg / lit(255.0))
    val xhatExpr = zip_with(scaled, minLit, (t, mn) => mn + t)
    val scored = rows.select(col("__v"),
        org.apache.spark.sql.functions.aggregate(
          zip_with(col("__v"), xhatExpr, (x, h) => pico(x * h)),
          lit(0L), (a, x) => a + x).as("__nxh"),
        org.apache.spark.sql.functions.aggregate(
          transform(col("__v"), x => pico(x * x)),
          lit(0L), (a, x) => a + x).as("__nxx"),
        org.apache.spark.sql.functions.aggregate(
          transform(xhatExpr, h => pico(h * h)),
          lit(0L), (a, x) => a + x).as("__nhh"),
        org.apache.spark.sql.functions.aggregate(
          zip_with(col("__v"), xhatExpr, (x, h) => abs(pico(x - h))),
          lit(0L), (a, x) => a + x).as("__sabs"),
        array_max(zip_with(col("__v"), xhatExpr, (x, h) => abs(pico(x - h))))
          .as("__mabs"))
    val cos = when(col("__nxx") > 0L && col("__nhh") > 0L,
      col("__nxh").cast("double") /
        (sqrt(col("__nxx").cast("double")) * sqrt(col("__nhh").cast("double"))))
      .otherwise(lit(0.0))
    val agg = scored.select(size(col("__v")).as("__d"),
        round(cos * lit(1e9), 0).cast("long").as("__cn"),
        col("__sabs"), col("__mabs"))
      .agg(count(lit(1)).as("n_vectors"), max(col("__d")).as("__dims"),
        sum(col("__cn").cast(dec)).as("__sc"),
        sum(col("__sabs").cast(dec)).as("__sa"),
        max(col("__mabs")).as("max_abs_err_pico"))
    agg.select(col("n_vectors"), col("__dims").cast("long").as("dims"),
      round(col("__sc").cast("double") / col("n_vectors").cast("double"), 0)
        .cast("long").as("avg_cos_nano"),
      round(col("__sa").cast("double") / col("n_vectors").cast("double") /
        col("__dims").cast("double"), 0).cast("long").as("mean_abs_err_pico"),
      col("max_abs_err_pico"))
  }

  /** Hubness audit of the exact k-NN graph (Radovanović et al. 2010):
    * in high dimensions a few points become HUBS (they appear in
    * everyone's top-k) while many become ANTIHUBS (nobody's neighbor)
    * — a geometry pathology that silently skews near-dup sweeps,
    * retrieval training, and semantic dedup keep-lists. Builds the
    * exact directed k-NN graph ([[bruteForceTopK]]'s cosine order,
    * ties to the lower neighbor id) and reads the IN-DEGREE
    * distribution: one row `(n_vectors, k, max_indegree, antihubs,
    * antihub_pct, indegree_skew)` — skew ≫ 0 is the hubness alarm.
    *
    * EXACT O(n²) audit by contract: a distributed count `require`s
    * n ≤ `maxVectors` BEFORE the join (the concordanceIndex posture);
    * run it on a sampled panel, the 100 TB near-dup path stays the
    * banded LSH family. Mean in-degree is k by construction, so the
    * moments come from exact integer Σd/Σd²/Σd³ and the one skewness
    * emission resolves through a fixed IEEE tree at 6 dp;
    * `antihub_pct` micro-quantizes via exact integral division.
    */
  def hubnessAudit(df: DataFrame, idCol: String, vecCol: String,
                   k: Int = 10, maxVectors: Long = 100000L): DataFrame = {
    require(k >= 1 && k <= 1000, s"k out of range: $k")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val base = df.filter(col(idCol).isNotNull && col(vecCol).isNotNull)
    val n = Observe.rowCount(base)
    require(n <= maxVectors,
      s"hubnessAudit is the EXACT O(n^2) audit: $n vectors > maxVectors=" +
        s"$maxVectors — sample upstream (the audit posture) or use the " +
        "banded LSH near-dup path for full-corpus work")
    val edges = bruteForceTopK(base, base, idCol, vecCol, k)
    val indeg = base.select(col(idCol).as("__id"))
      .join(edges.groupBy(col("neighbor_id")).agg(count(lit(1)).as("__d")),
        col("__id") === col("neighbor_id"), "left")
      .select(coalesce(col("__d"), lit(0L)).as("__d"))
    val agg = indeg.agg(
      count(lit(1)).as("n_vectors"),
      max(col("__d")).as("max_indegree"),
      sum(when(col("__d") === 0L, 1L).otherwise(0L)).as("antihubs"),
      sum(col("__d").cast(dec)).as("__s1"),
      sum((col("__d") * col("__d")).cast(dec)).as("__s2"),
      sum((col("__d") * col("__d") * col("__d")).cast(dec)).as("__s3"))
    val nd = col("n_vectors").cast("double")
    def s(c: String): Column = col(c).cast("double")
    val mu = s("__s1") / nd
    val m2 = s("__s2") / nd - mu * mu
    val m3 = s("__s3") / nd - lit(3.0) * mu * (s("__s2") / nd) +
      lit(2.0) * mu * mu * mu
    agg.select(col("n_vectors"), lit(k).cast("long").as("k"),
      col("max_indegree"), col("antihubs"),
      (expr("(cast(antihubs as decimal(38,0)) * 2000000 + n_vectors) div " +
        "(cast(n_vectors as decimal(38,0)) * 2)").cast("double") / lit(1e6))
        .as("antihub_pct"),
      when(m2 > 0.0, round(m3 / sqrt(m2 * m2 * m2), 6)).as("indegree_skew"))
  }

  /** TwoNN intrinsic-dimension estimate (Facco et al. 2017): the
    * MANIFOLD dimension the embeddings actually occupy, from nothing
    * but each point's two nearest neighbors —
    *
    *   μᵢ = r₂/r₁,  d̂ = n / Σ ln μᵢ
    *
    * (the MLE under local density constancy). On unit-normalized
    * vectors Euclidean r² = 2(1 − cos), so ln μᵢ =
    * ½ ln((1−cos₂)/(1−cos₁)) comes straight from the exact top-2
    * cosine table. An embedding advertised as 64-dim that measures
    * d̂ ≈ 9 is wasting capacity; a d̂ collapse after a re-train is a
    * regression alarm. One row `(n_vectors, n_used, id_mle)`;
    * coincident points (r₁ = 0) drop from the sum, the standard
    * TwoNN discard.
    *
    * Determinism: cosine doubles are cross-engine exact (sequential
    * fold, the q_embed_pairs contract); each ln term nano-quantizes
    * before the exact DECIMAL sum; the final ratio rounds at 6 dp.
    * Same EXACT-O(n²)-by-contract posture as [[hubnessAudit]]
    * (`maxVectors` require before the join) — an audit on a sampled
    * panel, not a full-corpus operator.
    */
  def twoNnId(df: DataFrame, idCol: String, vecCol: String,
              maxVectors: Long = 100000L): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val base = df.filter(col(idCol).isNotNull && col(vecCol).isNotNull)
    val n = Observe.rowCount(base)
    require(n <= maxVectors,
      s"twoNnId is the EXACT O(n^2) audit: $n vectors > maxVectors=" +
        s"$maxVectors — sample upstream (the audit posture)")
    val top2 = bruteForceTopK(base, base, idCol, vecCol, 2)
      .groupBy(col("query_id"))
      .agg(max(when(col("rank") === 1, col("cos"))).as("__c1"),
        max(when(col("rank") === 2, col("cos"))).as("__c2"))
    val r1 = lit(1.0) - col("__c1")
    val r2 = lit(1.0) - col("__c2")
    val term = round(log(r2 / r1) * lit(0.5) * lit(1e9), 0).cast(dec)
    val agg = top2
      .select(col("query_id"), when(r1 > 0.0 && r2 > 0.0, term).as("__t"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(when(col("__t").isNotNull, 1L).otherwise(0L)).as("n_used"),
        sum(col("__t")).as("__sln"))
    val sln = col("__sln").cast("double") / lit(1e9)
    agg.select(col("n_vectors"), col("n_used"),
      when(col("n_used") > 0L && sln > 0.0,
        round(col("n_used").cast("double") / sln, 6)).as("id_mle"))
  }

  /** Linear CKA (centered kernel alignment, Kornblith et al. 2019)
    * between two vector representations of the SAME rows — the
    * representation-similarity readout behind "does my truncated /
    * projected / re-trained embedding preserve the geometry?":
    *
    *   CKA = ‖C_xy‖²_F / (‖C_xx‖_F · ‖C_yy‖_F)
    *
    * over column-centered features, computed in MOMENT form so the
    * whole statistic is three scan-shaped aggregations with NO row
    * joins and NO driver-side matrix: each cross-covariance cell is
    *
    *   C_ab(i,j)/n = Σxᵢyⱼ/n − (Σxᵢ/n)(Σyⱼ/n)
    *
    * from per-row pico-quantized products (exact DECIMAL sums), the
    * per-cell double resolves through one fixed IEEE tree, squares
    * nano-quantize before the exact d²-cell sum, and the final ratio
    * rounds at 6 dp. 1 = identical geometry up to rotation/isotropic
    * scale; 0 = unrelated.
    *
    * Returns one row `(n, dims_a, dims_b, cka)`; null cka when either
    * self-norm is 0 (a constant representation).
    *
    * Scale shape: the outer-product rows come from TWO chained
    * posexplodes of each row's own arrays (a narrow pipeline, no
    * join); the only shuffles are the (i,j)-keyed partial-aggregated
    * sums — ≤ dₐ·d_b + dₐ² + d_b² cells regardless of corpus size. Work
    * is O(n·d²) — embarrassingly parallel; sample rows upstream if d
    * is large.
    */
  def linearCka(df: DataFrame, idCol: String, vecColA: Column,
                vecColB: Column): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    def pico(c: Column): Column = round(c * lit(1e12), 0).cast(dec)
    def nanoL(c: Column): Column = round(c * lit(1e9), 0).cast("long")
    val base = df.select(col(idCol).as("__id"),
        toDoubleArr(vecColA).as("__a"), toDoubleArr(vecColB).as("__b"))
      .filter(col("__id").isNotNull && col("__a").isNotNull && col("__b").isNotNull)
    val tot = base.agg(count(lit(1)).as("__n"),
      max(size(col("__a"))).as("__da"), max(size(col("__b"))).as("__db"))
    // per-dim raw sums (nano) for the mean terms
    def dimSums(c: String): DataFrame = base
      .select(posexplode(col(c)).as(Seq("__i", "__x")))
      .groupBy(col("__i"))
      .agg(sum(round(col("__x") * lit(1e9), 0).cast(dec)).as("__s"))
    // ‖C_ab‖²_F in nano units: chained posexplodes -> (i,j) cells
    def fro2(aC: String, bC: String): DataFrame = {
      val cells = base
        .select(col(bC).as("__bv"), posexplode(col(aC)).as(Seq("__i", "__x")))
        .select(col("__i"), col("__x"), posexplode(col("__bv")).as(Seq("__j", "__y")))
        .groupBy(col("__i"), col("__j"))
        .agg(sum(pico(col("__x") * col("__y"))).as("__sxy"))
      val mx = dimSums(aC).withColumnRenamed("__s", "__sx")
      val my = dimSums(bC)
        .withColumnRenamed("__s", "__sy").withColumnRenamed("__i", "__j")
      val nd = col("__n").cast("double")
      val ccell = col("__sxy").cast("double") / lit(1e12) / nd -
        (col("__sx").cast("double") / lit(1e9) / nd) *
          (col("__sy").cast("double") / lit(1e9) / nd)
      cells.join(broadcast(mx), "__i").join(broadcast(my), "__j")
        .crossJoin(broadcast(tot.select(col("__n"))))
        .select(nanoL(ccell * ccell).as("__c2"))
        .agg(sum(col("__c2").cast(dec)).as("__f2"))
    }
    val fxy = fro2("__a", "__b").withColumnRenamed("__f2", "__fxy")
    val fxx = fro2("__a", "__a").withColumnRenamed("__f2", "__fxx")
    val fyy = fro2("__b", "__b").withColumnRenamed("__f2", "__fyy")
    def d(c: String): Column = col(c).cast("double") / lit(1e9)
    tot.crossJoin(fxy).crossJoin(fxx).crossJoin(fyy)
      .select(col("__n").as("n"),
        col("__da").cast("long").as("dims_a"),
        col("__db").cast("long").as("dims_b"),
        when(col("__fxx") > 0 && col("__fyy") > 0,
          round(d("__fxy") / sqrt(d("__fxx") * d("__fyy")), 6)).as("cka"))
  }

  /** Participation-ratio / effective-rank audit of the embedding
    * covariance — the eigendecomposition-free rank-collapse screen
    * every representation-health dashboard wants beside [[linearCka]]:
    *
    *   participation_ratio = tr(C)² / tr(C²) ∈ [1, d]
    *     (Vershynin's stable rank of C^½: 1 = all variance on one
    *      axis — collapsed — d = perfectly isotropic; unlike a top-k
    *      eigen readout it weighs the WHOLE spectrum)
    *   diag_mass = Σᵢ C_ii² / ‖C‖²_F ∈ (0, 1]
    *     (1 = uncorrelated dimensions; low = variance hides in
    *      cross-dim correlation the per-dim variances can't see)
    *
    * The trick that keeps this distributed and oracle-exact: tr(C²) =
    * ‖C‖²_F and tr(C) need only the d² column-covariance CELLS, never
    * an eigensolve or a driver matrix — so the whole statistic is
    * [[linearCka]]'s moment-form pass with both sides the same vector:
    * per-cell C_ij = Σxᵢxⱼ/n − (Σxᵢ/n)(Σxⱼ/n) from pico-quantized
    * exact DECIMAL sums, each cell's contributions nano-quantized
    * BEFORE the exact d²-cell fold (order-free), final ratios one
    * fixed IEEE tree at 6 dp.
    *
    * Returns one row `(n, dims, trace, participation_ratio,
    * diag_mass)`; null ratios when ‖C‖²_F = 0 (a constant store).
    *
    * Scale shape: one chained-posexplode pipeline (no row join); the
    * only shuffles are the (i,j)-keyed map-combined sums — ≤ d² + d
    * cells regardless of corpus size. Work is O(n·d²).
    */
  def effectiveRank(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    def pico(c: Column): Column = round(c * lit(1e12), 0).cast(dec)
    def nanoL(c: Column): Column = round(c * lit(1e9), 0).cast("long")
    val base = df.select(col(idCol).as("__id"), toDoubleArr(col(vecCol)).as("__a"))
      .filter(col("__id").isNotNull && col("__a").isNotNull)
    val tot = base.agg(count(lit(1)).as("__n"), max(size(col("__a"))).as("__d"))
    val dimSums = base
      .select(posexplode(col("__a")).as(Seq("__i", "__x")))
      .groupBy(col("__i"))
      .agg(sum(round(col("__x") * lit(1e9), 0).cast(dec)).as("__s"))
    val cells = base
      .select(col("__a").as("__bv"), posexplode(col("__a")).as(Seq("__i", "__x")))
      .select(col("__i"), col("__x"), posexplode(col("__bv")).as(Seq("__j", "__y")))
      .groupBy(col("__i"), col("__j"))
      .agg(sum(pico(col("__x") * col("__y"))).as("__sxy"))
    val mx = dimSums.withColumnRenamed("__s", "__sx")
    val my = dimSums.withColumnRenamed("__s", "__sy").withColumnRenamed("__i", "__j")
    val nd = col("__n").cast("double")
    val ccell = col("__sxy").cast("double") / lit(1e12) / nd -
      (col("__sx").cast("double") / lit(1e9) / nd) *
        (col("__sy").cast("double") / lit(1e9) / nd)
    val ag = cells.join(broadcast(mx), "__i").join(broadcast(my), "__j")
      .crossJoin(broadcast(tot.select(col("__n"))))
      .select(col("__i"), col("__j"),
        nanoL(ccell * ccell).as("__c2"), nanoL(ccell).as("__c1"))
      .agg(sum(col("__c2").cast(dec)).as("__f2"),
        sum(when(col("__i") === col("__j"), col("__c1")).otherwise(0L).cast(dec))
          .as("__tr"),
        sum(when(col("__i") === col("__j"), col("__c2")).otherwise(0L).cast(dec))
          .as("__dg"))
    def d9(c: String): Column = col(c).cast("double") / lit(1e9)
    tot.crossJoin(ag)
      .select(col("__n").as("n"), col("__d").cast("long").as("dims"),
        round(d9("__tr"), 6).as("trace"),
        when(col("__f2") > 0,
          round(d9("__tr") * d9("__tr") / d9("__f2"), 6))
          .as("participation_ratio"),
        when(col("__f2") > 0,
          round(col("__dg").cast("double") / col("__f2").cast("double"), 6))
          .as("diag_mass"))
  }

  /** Moment-form MMD² two-sample test between two embedding
    * populations (Gretton et al. 2012, closed-form kernels) — the
    * MULTIVARIATE drift statistic beside the per-dim marginal PSI of
    * `Drift.psiPerDim`: a mean shift that cancels per-dimension, or a
    * covariance rotation with identical marginals, shows here and
    * nowhere else.
    *
    *   linear kernel  k(x,y) = x·y     ⇒ MMD² = ‖μ_a − μ_b‖²
    *   quadratic      k(x,y) = (x·y)²  ⇒ MMD² = ‖M_a − M_b‖²_F,
    *     M_g(i,j) = E_g[xᵢxⱼ]  (the uncentered second-moment matrix)
    *
    * Both are PLUG-IN (biased/V-statistic) estimates in closed moment
    * form: no pair sampling, no kernel matrix — one scan per group for
    * the d mean cells and d² second-moment cells ([[linearCka]]'s
    * pipeline), per-cell differences squared and nano-quantized BEFORE
    * the exact fold, final emissions one IEEE division + 6 dp round.
    *
    * Returns one row `(n_a, n_b, dims, mmd2_linear, mmd2_quadratic)`;
    * null statistics when either group is empty.
    *
    * Scale shape: two chained-posexplode passes (no row join); shuffles
    * only the ≤ 2(d² + d) cells. Work O(n·d²), output corpus-size-free.
    */
  def mmdMoment(df: DataFrame, idCol: String, vecCol: String,
                inGroupA: Column): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    def pico(c: Column): Column = round(c * lit(1e12), 0).cast(dec)
    def nanoL(c: Column): Column = round(c * lit(1e9), 0).cast("long")
    val base = df.select(col(idCol).as("__id"), toDoubleArr(col(vecCol)).as("__a"),
        when(inGroupA, 1).otherwise(0).as("__g"))
      .filter(col("__id").isNotNull && col("__a").isNotNull)
    val tot = base.agg(
      sum(when(col("__g") === 1, 1L).otherwise(0L)).as("__na"),
      sum(when(col("__g") === 0, 1L).otherwise(0L)).as("__nb"),
      max(size(col("__a"))).as("__d"))
    // per-(group, i) mean cells: nano raw sums, mean resolved in double
    val means = base
      .select(col("__g"), posexplode(col("__a")).as(Seq("__i", "__x")))
      .groupBy(col("__g"), col("__i"))
      .agg(sum(round(col("__x") * lit(1e9), 0).cast(dec)).as("__s"),
        count(lit(1)).as("__n"))
      .select(col("__i"), col("__g"),
        (col("__s").cast("double") / lit(1e9) / col("__n").cast("double"))
          .as("__m"))
    val mLin = means.groupBy(col("__i"))
      .agg(sum(when(col("__g") === 1, col("__m")).otherwise(lit(0.0))).as("__ma"),
        sum(when(col("__g") === 0, col("__m")).otherwise(lit(0.0))).as("__mb"))
      .select(nanoL((col("__ma") - col("__mb")) * (col("__ma") - col("__mb")))
        .as("__dm2"))
      .agg(sum(col("__dm2").cast(dec)).as("__lin"))
    // per-(group, i, j) second-moment cells: each group-g row contributes
    // exactly one product to cell (g, i, j), so the cell count IS n_g and
    // M_g(i,j) resolves per cell with no extra pass
    val mQuad = base
      .select(col("__g"), col("__a").as("__bv"),
        posexplode(col("__a")).as(Seq("__i", "__x")))
      .select(col("__g"), col("__i"), col("__x"),
        posexplode(col("__bv")).as(Seq("__j", "__y")))
      .groupBy(col("__g"), col("__i"), col("__j"))
      .agg(sum(pico(col("__x") * col("__y"))).as("__sxy"),
        count(lit(1)).as("__nc"))
      .select(col("__i"), col("__j"), col("__g"),
        (col("__sxy").cast("double") / lit(1e12) / col("__nc").cast("double"))
          .as("__mm"))
      .groupBy(col("__i"), col("__j"))
      .agg(sum(when(col("__g") === 1, col("__mm")).otherwise(lit(0.0))).as("__qa"),
        sum(when(col("__g") === 0, col("__mm")).otherwise(lit(0.0))).as("__qb"))
      .select(nanoL((col("__qa") - col("__qb")) * (col("__qa") - col("__qb")))
        .as("__dq2"))
      .agg(sum(col("__dq2").cast(dec)).as("__quad"))
    val ok = col("__na") > 0L && col("__nb") > 0L
    tot.crossJoin(mLin).crossJoin(mQuad)
      .select(col("__na").as("n_a"), col("__nb").as("n_b"),
        col("__d").cast("long").as("dims"),
        when(ok, round(col("__lin").cast("double") / lit(1e9), 6))
          .as("mmd2_linear"),
        when(ok, round(col("__quad").cast("double") / lit(1e9), 6))
          .as("mmd2_quadratic"))
  }

  /** Alignment / uniformity probe (Wang & Isola 2020) over DETERMINISTIC
    * id-offset pairs: per offset K, pair vector i with vector i+K and
    * report
    *
    *   align   = E ‖x − y‖²            (small offsets ≈ near-neighbor
    *             proxy on locality-structured corpora)
    *   uniform = ln E exp(−2‖x − y‖²)  (the hypersphere-spread readout;
    *             → −4 for perfectly uniform, → 0 for collapsed)
    *
    * over L2-normalized vectors. The offset spine replaces Wang-Isola's
    * random pairs with an engine-reproducible probe (the md5-selection
    * spirit: deterministic, cluster-layout-stable) — a PROBE of the
    * embedding geometry, not an unbiased estimate, and labeled as such.
    * Per offset: `(pair_offset, n_pairs, align_micro, uniform)`.
    *
    * Determinism: ‖x−y‖² pico-quantizes per element before the exact
    * per-pair fold; exp terms nano-quantize per pair before the exact
    * group sum (order-free); `uniform` is one ln on an identical
    * double, 6 dp (the documented post-libm rounding class).
    *
    * Scale shape: one normalize pass, then per offset ONE equi-join on
    * the shifted id (hash join, never a cross product) and one
    * map-combined aggregation. Offets are a bounded literal list.
    */
  def alignmentUniformity(df: DataFrame, idCol: String, vecCol: String,
                          offsets: Seq[Long]): DataFrame = {
    require(offsets.nonEmpty && offsets.size <= 16,
      s"need 1..16 probe offsets: ${offsets.size}")
    require(offsets.forall(_ > 0L), "offsets must be positive")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val nv = normalized(df, idCol, vecCol, "__id", "__nv")
      .filter(col("__id").isNotNull)
    val perOffset = offsets.map { k =>
      val a = nv.select(col("__id"), col("__nv").as("__va"))
      val b = nv.select((col("__id") - lit(k)).as("__id"), col("__nv").as("__vb"))
      val d2pico = org.apache.spark.sql.functions.aggregate(
        zip_with(col("__va"), col("__vb"),
          (x, y) => round((x - y) * (x - y) * lit(1e12), 0).cast("long")),
        lit(0L), (acc, x) => acc + x)
      a.join(b, Seq("__id"))
        .select(d2pico.as("__d2p"))
        .select(col("__d2p"),
          round(exp(col("__d2p").cast("double") / lit(1e12) * lit(-2.0)) *
            lit(1e9), 0).cast("long").as("__en"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("__d2p").cast(dec)).as("__sd2"),
          sum(col("__en").cast(dec)).as("__se"))
        .select(lit(k).as("pair_offset"), col("n_pairs"),
          round(col("__sd2").cast("double") / col("n_pairs").cast("double") /
            lit(1e6), 0).cast("long").as("align_micro"),
          round(log(col("__se").cast("double") / lit(1e9) /
            col("n_pairs").cast("double")), 6).as("uniform"))
    }
    perOffset.reduce(_ unionByName _).orderBy(col("pair_offset"))
  }
}
