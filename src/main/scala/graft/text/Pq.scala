package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al. 2011, "Product Quantization for
  * Nearest Neighbor Search") over integer-lattice embeddings: split each
  * d-dim vector into `m` contiguous subvectors, train an integer k-means
  * codebook per subspace ([[Cluster.kmeansInt]]'s auditable Lloyd
  * variant, all subspaces trained together), and represent every vector
  * by its `m` nearest-code ids. Approximate distances are computed
  * asymmetrically (ADC): the query keeps its exact subvectors, each
  * scored against the codebook once, and a corpus vector's distance is
  * the sum of `m` table lookups.
  *
  * This completes the ANN family (brute / LSH-bucketed / IVF): PQ is the
  * MEMORY scale path — a 64-dim float vector becomes `m` small ints, a
  * 32× compression at m=2/k=8, and the ADC scan never touches the
  * original vectors. Because codebooks live on the integer lattice and
  * every distance is exact integer arithmetic, the whole index — training
  * rounds, code assignments, ADC scores, the final top-k — replays
  * bit-for-bit in an independent engine: a lossy index with a lossless
  * audit trail.
  *
  * Scale shape: training is ONE pass for all m subspaces: one checkpoint,
  * one init collect, then per round one narrow map that assigns every
  * subvector against its literal codebook and one exchange whose k·d
  * per-(dim, code) sums are collected (the [[Cluster]] contract:
  * `iters + 2` actions whatever m is); encoding is ONE narrow codegen'd
  * projection (codebooks are literals — no join);
  * the ADC scan scores each corpus row in place: its `m` codes stay one
  * array, crossed with the broadcast per-query m×k LUTs (the
  * [[Similarity.bruteForceTopK]] posture: queries small, corpus
  * streaming), so a score is `m` array lookups and the only exchange is
  * the per-query WindowGroupLimit top-k. At IVF-style corpus sizes,
  * restrict the scan with [[Similarity]] cells first — PQ composes as
  * the residual scorer.
  */
object Pq {

  /** Train `m` per-subspace codebooks of `k` codes each over `vecCol`
    * (array of integral type, fixed length `d`, `d % m == 0`). Returns
    * `codebooks(s)(code) = center` with `d/m` components each: the
    * [[Cluster.kmeansInt]] contract per subspace, trained in one pass.
    */
  def train(df: DataFrame, idCol: String, vecCol: String, d: Int,
            m: Int, k: Int, iters: Int): IndexedSeq[IndexedSeq[Seq[Long]]] = {
    require(m >= 1 && d % m == 0, s"vector dim $d must split evenly into $m subspaces")
    val vec = df.select(col(idCol), slice(col(vecCol).cast("array<long>"), 1, d).as("__pq_v"))
    Cluster.lloyd(vec, idCol, "__pq_v", m, k, iters, keepBase = false)._2
  }

  /** The `m` code ids for one vector as an `array<int>` — a single
    * narrow projection against literal codebooks (no join, no shuffle).
    * Assignment ties break toward the smaller code id, the
    * [[Cluster.kmeansInt]] rule.
    */
  def encodeCodes(vec: Column, codebooks: IndexedSeq[IndexedSeq[Seq[Long]]]): Column =
    Cluster.assign(vec.cast("array<long>"), codebooks)

  /** ADC top-k: for every query row, the `topK` corpus rows with the
    * smallest summed code-to-query subspace distances (ties to the
    * smaller neighbor id). `(query_id, neighbor_id, approx_d2, rank)`.
    * `queries` should be small (their lookup tables are broadcast to
    * every executor); `corpus` streams, each row is scored on its own
    * (two rows that share an id are two neighbors), and a corpus row
    * without a vector is never a neighbor.
    */
  def adcTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, codebooks: IndexedSeq[IndexedSeq[Seq[Long]]],
              topK: Int): DataFrame = {
    val codes = corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("neighbor_id"), encodeCodes(col(vecCol), codebooks).as("__codes"))
    // LUT: per query, the exact distance of each subvector to each code
    val lut = queries.select(col(idCol).as("query_id"),
      Cluster.bySubspace(col(vecCol).cast("array<long>"), codebooks)((sv, cs) =>
        array(Cluster.distances(sv, cs).map(_.getField("d")): _*)).as("__lut"))
    val scored = codes.crossJoin(broadcast(lut))
      .select(col("query_id"), col("neighbor_id"), codebooks.indices
        .map(s => col("__lut")(s)(col("__codes")(s))).reduce(_ + _).as("approx_d2"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_d2"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= topK)
  }
}
