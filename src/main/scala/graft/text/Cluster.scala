package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.ArrayMath
import graft.ops.{Guards, Observe}

/** Integer-exact k-means clustering.
  *
  * Lloyd's algorithm over integer-component vectors (e.g. globally
  * quantized embeddings) with centroids kept ON the integer lattice —
  * each round's center is the per-dimension FLOOR of the mean — so
  * every assignment, every distance, and every center
  * is exact integer arithmetic that an independent engine can replay
  * bit-for-bit. That is what makes cluster-based curation decisions
  * (cluster-balanced sampling, semantic-dedup cells, mixture design)
  * reproducible across reruns, Spark versions, and engines — the same
  * determinism doctrine as the integer PageRank (ops/Graph.scala) and
  * the rational TF-IDF (text/Rank.scala).
  *
  * Scale shape: centers are k·d integers — driver-sized BY DEFINITION
  * (k is thousands at most) — so they are collected once per round and
  * re-broadcast as LITERALS: the assignment stage is a narrow
  * codegen-able map (no join, no shuffle, k lexicographic struct-min
  * comparisons per row). A round is ONE exchange: a posexplode +
  * (dim, cluster) sum and count with map-side partials, whose k·d rows
  * are collected; the driver floors each mean and assembles the centers
  * by position. At most `iters` driver round-trips of k·d integers
  * each, stopping at the first round that moves no center: the same
  * bounded-driver contract as BPE training (one winner row per
  * round, text/Bpe.scala) and the IVF cells of
  * [[graft.text.Similarity.ivfIndexFor]] (k centers). The trainer runs `m`
  * contiguous subspaces in that same pass, so [[Pq]] codebooks cost no
  * more jobs than one k-means.
  */
object Cluster {

  /** Run at most `iters` Lloyd rounds with k centers over `vecCol`
    * (`array` of integral type, all rows same length), stopping at the
    * exact fixed point (a round that moves no center), and return
    * `(idCol, cluster int, dist long)` — the final assignment and its
    * squared distance to the assigned center.
    *
    * Deterministic contract (mirrored by the SQL oracle): initial
    * centers are the vectors of the k smallest ids (cluster = rank
    * order); assignment ties break toward the smaller cluster id;
    * centroid means floor toward -∞ (the oracle's
    * `(s - pmod(s, n)) div n` is `Math.floorDiv(s, n)`); a cluster that
    * receives no points keeps its previous center.
    */
  def kmeansInt(df: DataFrame, idCol: String, vecCol: String,
                k: Int, iters: Int): DataFrame =
    kmeansIntWithCenters(df, idCol, vecCol, k, iters)._1

  /** [[kmeansInt]] plus the final centers (exposed for tests and for
    * center-reusing callers like cluster-balanced samplers).
    */
  private[graft] def kmeansIntWithCenters(
      df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): (DataFrame, IndexedSeq[Seq[Long]]) = {
    Guards.requireNoReservedNames(df, Seq("cluster", "dist"), "kmeansInt")
    val (base, centers) = lloyd(df, idCol, vecCol, 1, k, iters, keepBase = true)
    val best = nearest(col("__km_v"), centers.head)
    val out = base.select(
      col("__km_id").as(idCol),
      best.getField("c").as("cluster"),
      best.getField("d").as("dist"))
    (out, centers.head)
  }

  /** Lloyd's algorithm over `m` contiguous subspaces of `vecCol` at once
    * (`m = 1` is plain k-means): each subspace trains its own k centers
    * under the [[kmeansInt]] contract, all in one pass per round.
    * Returns the checkpointed `(__km_id, __km_v)` input and
    * `centers(subspace)(cluster)`. The input is released on every exit
    * unless `keepBase`, when the caller reads it afterwards.
    */
  private[text] def lloyd(df: DataFrame, idCol: String, vecCol: String, m: Int,
                          k: Int, iters: Int, keepBase: Boolean)
      : (DataFrame, IndexedSeq[IndexedSeq[Seq[Long]]]) = {
    require(k >= 1, "k must be >= 1")
    require(iters >= 0, "iters must be >= 0")
    // Freeze the (id, vector) projection once: it is re-read every round
    // plus once for the final assignment. localCheckpoint at bench scale;
    // a 100 TB run persists to executor storage instead — same contract
    // (stable input, no lineage re-execution).
    val base = df
      .select(col(idCol).as("__km_id"), col(vecCol).cast("array<long>").as("__km_v"))
      .filter(col("__km_v").isNotNull)
      .localCheckpoint(true)
    var kept = false
    try {
      val init = base.orderBy(col("__km_id")).limit(k).collect().map(_.getSeq[Long](1))
      require(init.length == k, s"kmeansInt needs at least k=$k non-null vectors, got ${init.length}")
      val sub = init.head.length / m
      // a round reads nothing but the centers, so one that leaves them
      // unchanged is the fixed point: every later round repeats it
      val (centers, _) = Observe.iterate("lloyd",
          (0 until m).map(s => init.map(_.slice(s * sub, (s + 1) * sub)).toIndexedSeq),
          iters) { centers =>
        val means = base
          .withColumn("__km_a", assign(col("__km_v"), centers))
          .select(col("__km_a"), posexplode(col("__km_v")).as(Seq("__km_p", "__km_x")))
          .groupBy(col("__km_p"), col("__km_a")((col("__km_p") / sub).cast("int")).as("__km_c"))
          .agg(sum(col("__km_x")), count(lit(1)))
          .collect()
          .map(r => (r.getInt(0), r.getInt(1)) -> Math.floorDiv(r.getLong(2), r.getLong(3)))
          .toMap
        centers.zipWithIndex.map { case (cs, s) =>
          cs.zipWithIndex.map { case (c, i) =>
            if (means.contains((s * sub, i))) (0 until sub).map(j => means((s * sub + j, i))) else c
          }
        }
      }(_ == _)
      kept = keepBase
      (base, centers)
    } finally if (!kept) Observe.release(base)
  }

  /** Squared distance from the integer-array column `v` to each literal
    * center as a `(d, c)` struct, `c` the center's index: exact long
    * arithmetic, codegen'd.
    */
  private[text] def distances(v: Column, centers: Seq[Seq[Long]]): Seq[Column] =
    centers.zipWithIndex.map { case (c, i) =>
      struct(
        aggregate(zip_with(v, typedLit(c), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).as("d"),
        lit(i).as("c"))
    }

  /** The nearest center to `v` as a `(d, c)` struct: the lexicographic
    * struct-min, so ties go to the smaller index.
    */
  private[text] def nearest(v: Column, centers: Seq[Seq[Long]]): Column =
    distances(v, centers).reduce(least(_, _))

  /** `f` of each of `v`'s `centers.length` contiguous subvectors (each
    * sliced once per row) and its subspace's centers, as an array.
    */
  private[text] def bySubspace(v: Column, centers: IndexedSeq[Seq[Seq[Long]]])(
      f: (Column, Seq[Seq[Long]]) => Column): Column = {
    val sub = centers.head.head.length
    array(centers.indices.map(s =>
      ArrayMath.bound(slice(v, s * sub + 1, sub))(f(_, centers(s)))): _*)
  }

  /** The nearest-center index of every subvector, as `array<int>`. */
  private[text] def assign(v: Column, centers: IndexedSeq[Seq[Seq[Long]]]): Column =
    bySubspace(v, centers)(nearest(_, _).getField("c"))

  /** Davies-Bouldin index over a trained [[kmeansInt]] clustering — the
    * internal "are these clusters compact and well separated?" score
    * (lower is better): per cluster the mean point-to-center distance
    * s_i, per pair the center distance d_ij, and
    *
    *   DB = (1/k) Σ_i max_{j≠i} (s_i + s_j) / d_ij
    *
    * Clusters that received no points (or whose every partner sits at
    * d_ij = 0) drop from the average; k reports the clusters actually
    * scored.
    *
    * Determinism: per-point √dist² nano-quantizes before the cluster
    * mean (exact integer sums); d_ij comes from the SAME integer
    * lattice centers the oracle retrains, so each ratio is a fixed IEEE
    * tree; the final k-term average quantizes each max to nanos first.
    *
    * Scale shape: the [[kmeansInt]] training chain plus ONE
    * cluster-keyed aggregation over the assignment; the k×k pair table
    * is driver literals (k·d ints — driver-sized by definition).
    *
    * @return 1 row (k, db_index)
    */
  def daviesBouldin(df: DataFrame, idCol: String, vecCol: String,
                    k: Int, iters: Int): DataFrame = {
    val (assign, centers) = kmeansIntWithCenters(df, idCol, vecCol, k, iters)
    val spark = df.sparkSession
    import spark.implicits._
    val si = assign.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"),
        sum(round(sqrt(col("dist").cast("double")) * lit(1e9), 0).cast("long"))
          .as("sd"))
    val pairs = for {
      i <- 0 until k
      j <- 0 until k
      if i != j
    } yield {
      val d2 = centers(i).zip(centers(j)).map { case (a, b) =>
        val d = a - b; d * d
      }.sum
      (i, j, math.sqrt(d2.toDouble))
    }
    val pdf = pairs.toDF("i", "j", "dij").filter(col("dij") > 0.0)
    val sMean = (p: String) =>
      col(s"sd_$p").cast("double") / col(s"n_$p").cast("double") / lit(1e9)
    val r = pdf
      .join(si.select(col("cluster").as("i"), col("n").as("n_i"), col("sd").as("sd_i")), Seq("i"))
      .join(si.select(col("cluster").as("j"), col("n").as("n_j"), col("sd").as("sd_j")), Seq("j"))
      .groupBy(col("i"))
      .agg(max((sMean("i") + sMean("j")) / col("dij")).as("ri"))
    r.agg(count(lit(1)).as("k"),
        sum(round(col("ri") * lit(1e9), 0).cast("long")).as("__s"))
      .select(col("k"),
        round(col("__s").cast("double") / col("k").cast("double") / lit(1e9), 6)
          .as("db_index"))
  }

  /** Centroid silhouette over a trained [[kmeansInt]] clustering — the
    * per-point "am I closer to my own center than to the next one?"
    * summary (the classic silhouette's pairwise a/b replaced by
    * center distances — the scalable variant, stated):
    *
    *   s(x) = (b − a) / max(a, b),   a = ‖x − c_own‖, b = min_{j≠own} ‖x − c_j‖
    *
    * Returned per cluster: `(cluster, n, mean_silhouette)` plus the
    * point count; points with max(a,b) = 0 (degenerate duplicate
    * centers) score 0.
    *
    * Determinism: a and b come from the same integer lattice distances
    * the assignment used (b via a second lexicographic struct-min with
    * the own cluster excluded); per-point s nano-quantizes before the
    * cluster mean.
    *
    * Scale shape: the [[kmeansInt]] chain plus one narrow per-row
    * projection against literal centers and one cluster-keyed
    * aggregation — silhouette at 100 TB rides the assignment scan.
    */
  def centroidSilhouette(df: DataFrame, idCol: String, vecCol: String,
                         k: Int, iters: Int): DataFrame = {
    require(k >= 2, "silhouette needs at least two clusters")
    val centers = lloyd(df, idCol, vecCol, 1, k, iters, keepBase = false)._2.head
    val base = df
      .select(col(idCol).as("__id"), col(vecCol).cast("array<long>").as("__v"))
      .filter(col("__v").isNotNull)
    val dists = distances(col("__v"), centers)
    val best = nearest(col("__v"), centers)
    val assigned = base
      .withColumn("__own", best.getField("c"))
      .withColumn("__a2", best.getField("d"))
    val second = dists.zipWithIndex
      .map { case (d, i) => when(col("__own") =!= i, d) }
      .reduce(least(_, _)) // nulls lose in least
    val withB = assigned.withColumn("__b2", second.getField("d"))
    val a = sqrt(col("__a2").cast("double"))
    val b = sqrt(col("__b2").cast("double"))
    val s = when(greatest(a, b) > 0.0, (b - a) / greatest(a, b)).otherwise(lit(0.0))
    withB
      .withColumn("__sq", round(s * lit(1e9), 0).cast("long"))
      .groupBy(col("__own").as("cluster"))
      .agg(count(lit(1)).as("n"), sum(col("__sq")).as("__ss"))
      .select(col("cluster"), col("n"),
        round(col("__ss").cast("double") / col("n").cast("double") / lit(1e9), 6)
          .as("mean_silhouette"))
  }
}
