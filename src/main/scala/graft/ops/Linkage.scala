package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fellegi-Sunter probabilistic record linkage — the standard scoring
  * model for "are these two records the same entity?" (deduping customer
  * registers, linking scanner items to catalog entries — the ONS's own
  * record-linkage tradition). Candidate pairs come from a BLOCKED source
  * (an equi-join on block keys, [[graft.text.Fuzzy]]'s signature pairs —
  * never all-pairs); this module turns per-field agreement flags into
  * the composite match weight
  *
  *   W = Σ_i  agreeᵢ ? ln(mᵢ/uᵢ) : ln((1−mᵢ)/(1−uᵢ))
  *
  * with mᵢ = P(field agrees | same entity), uᵢ = P(agrees | different).
  *
  * Not in the reference; engine extension (SURVEY §2.11).
  */
object Linkage {

  /** One comparison field: the agreement expression (boolean Column)
    * plus its m/u probabilities (caller-supplied — in practice from EM
    * or clerical estimates; must lie strictly inside (0,1)).
    */
  final case class Field(agree: Column, m: Double, u: Double)

  /** The two per-field log-weights, nano-quantized ONCE on the driver:
    * every engine then works from the identical integer constants, so
    * no libm-in-the-oracle question ever arises (inline these numbers
    * into replay SQL via [[weightsNano]]).
    */
  private[graft] def weightsNano(f: Field): (Long, Long) = {
    require(f.m > 0 && f.m < 1, s"m must be in (0,1): ${f.m}")
    require(f.u > 0 && f.u < 1, s"u must be in (0,1): ${f.u}")
    (math.round(math.log(f.m / f.u) * 1e9),
      math.round(math.log((1 - f.m) / (1 - f.u)) * 1e9))
  }

  /** Score candidate pairs: appends `score_nano` (exact integer sum of
    * the per-field weights) and `band` — "match" at/above
    * `upperNano`, "non_match" below `lowerNano`, "possible" between
    * (the Fellegi-Sunter three-way decision). Null field values count
    * as DISAGREEMENT (`agree` null-safe-coalesced to false): an absent
    * value is evidence against, never silently dropped.
    *
    * Scale shape: pure per-row arithmetic over the pair stream — zero
    * additional shuffles on top of whatever produced the pairs.
    */
  def score(pairs: DataFrame, fields: Seq[Field],
            lowerNano: Long, upperNano: Long): DataFrame = {
    require(fields.nonEmpty, "need at least one comparison field")
    require(lowerNano <= upperNano, "need lowerNano <= upperNano")
    val total = fields.map { f =>
      val (wa, wd) = weightsNano(f)
      when(coalesce(f.agree, lit(false)), lit(wa)).otherwise(lit(wd))
    }.reduce(_ + _)
    pairs
      .withColumn("score_nano", total)
      .withColumn("band",
        when(col("score_nano") >= upperNano, "match")
          .when(col("score_nano") < lowerNano, "non_match")
          .otherwise(lit("possible")))
  }

  /** EM estimation of the Fellegi-Sunter parameters (m, u, p) from
    * UNLABELED candidate pairs — the step [[score]] assumes done: fit
    * the two-class mixture where each pair is a match with prior p and
    * its K binary agreement flags are independent given the class
    * (Winkler's classic unsupervised recipe; the ONS linkage
    * tradition's parameter source when no clerical sample exists).
    *
    * E-step: γ(pattern) = p·Π mᵏ / (p·Π mᵏ + (1−p)·Π uᵏ);
    * M-step: p ← Σnγ/N, mₖ ← Σ_{agree k} nγ / Σnγ,
    * uₖ ← Σ_{agree k} n(1−γ) / Σn(1−γ), all clamped into
    * (0, 1) open (nano 1 … 10⁹−1 — the standard degeneracy guard).
    *
    * Determinism (the [[graft.ops.Regression.bradleyTerry]] posture):
    * ONE distributed counting pass reduces the pair stream to its
    * 2^K agreement-pattern census (K ≤ 16 by `require`); every EM
    * sweep then runs on the driver in nano-quantized integers —
    * γ round-half-up quantizes per pattern, the M-step sums are exact
    * BigInt, each new parameter re-quantizes — so an unrolled CTE
    * chain replays the fit bit-for-bit. Convergence contract: with
    * `tolNano > 0` sweeps stop once max |Δparam| < tolNano and
    * `iters_run` reports the count actually paid.
    *
    * Returns one row per field:
    * `(field, m_nano, u_nano, p_nano, n_pairs, iters_run)` — all
    * BIGINT (integer nano-probabilities; no float surface).
    *
    * Scale shape: one map-combined aggregation over however many
    * pairs the blocked source produces; everything after is 2^K
    * driver cells — zero per-sweep Spark jobs.
    */
  def emFit(pairs: DataFrame, agrees: Seq[Column], iterations: Int,
            p0: Double, m0: Seq[Double], u0: Seq[Double],
            tolNano: Long = 0L): DataFrame = {
    val k = agrees.size
    require(k >= 1 && k <= 16, s"need 1..16 agreement fields: $k")
    require(m0.size == k && u0.size == k, "m0/u0 must align with agrees")
    require(iterations >= 1 && iterations <= 32,
      s"iterations out of range: $iterations")
    require(tolNano >= 0L, s"tolNano must be non-negative: $tolNano")
    require(p0 > 0 && p0 < 1, s"p0 must be in (0,1): $p0")
    (m0 ++ u0).foreach(x => require(x > 0 && x < 1, s"probs must be in (0,1): $x"))
    val spark = pairs.sparkSession
    val bits = agrees.zipWithIndex.map { case (c, i) =>
      when(coalesce(c, lit(false)), 1L).otherwise(0L).as(s"__b$i")
    }
    val bitCols = (0 until k).map(i => col(s"__b$i"))
    val census: Array[(Array[Long], Long)] = pairs.select(bits: _*)
      .groupBy(bitCols: _*).agg(count(lit(1)).as("__n"))
      .collect()
      .map(r => ((0 until k).map(r.getLong).toArray, r.getLong(k)))
    val nTot = census.map(t => BigInt(t._2)).sum
    // an empty census would make every M-step 0/0 (BigDecimal(NaN) — a
    // cryptic NumberFormatException three frames deep); refuse it by name
    require(nTot > 0,
      "emFit: the blocked pair source produced no pairs — nothing to fit")
    def nano(x: Double): Long = BigDecimal(x * 1e9)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    def clamp(x: Long): Long = math.max(1L, math.min(999999999L, x))
    val ((p, m, u), sweeps) = Observe.iterate("emFit",
        (nano(p0), m0.map(nano).toArray, u0.map(nano).toArray), iterations) { case (p, m, u) =>
      // E-step: γ per pattern, nano-quantized (left-fold products in
      // field order — the tree the oracle replays verbatim)
      val gam: Array[Long] = census.map { case (bitsG, _) =>
        var a = p.toDouble / 1e9
        var b = 1.0 - p.toDouble / 1e9
        for (i <- 0 until k) {
          a *= (if (bitsG(i) == 1L) m(i).toDouble / 1e9 else 1.0 - m(i).toDouble / 1e9)
          b *= (if (bitsG(i) == 1L) u(i).toDouble / 1e9 else 1.0 - u(i).toDouble / 1e9)
        }
        BigDecimal(a / (a + b) * 1e9)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      }
      // M-step: exact integer sums, one double division per parameter
      val st = census.zip(gam).map { case ((_, n), g) => BigInt(n) * g }.sum
      val sc = census.zip(gam).map { case ((_, n), g) =>
        BigInt(n) * (1000000000L - g) }.sum
      val pNew = clamp(BigDecimal(st.toDouble / nTot.toDouble)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
      val mNew = Array.tabulate(k) { i =>
        val sb = census.zip(gam).collect {
          case ((bs, n), g) if bs(i) == 1L => BigInt(n) * g }.sum
        if (st == 0) m(i)
        else clamp(BigDecimal(sb.toDouble / st.toDouble * 1e9)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
      }
      val uNew = Array.tabulate(k) { i =>
        val sb = census.zip(gam).collect {
          case ((bs, n), g) if bs(i) == 1L => BigInt(n) * (1000000000L - g) }.sum
        if (sc == 0) u(i)
        else clamp(BigDecimal(sb.toDouble / sc.toDouble * 1e9)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
      }
      (pNew, mNew, uNew)
    } { case ((p, m, u), (pNew, mNew, uNew)) =>
      tolNano > 0L && (Seq(math.abs(pNew - p)) ++
        (0 until k).map(i => math.abs(mNew(i) - m(i))) ++
        (0 until k).map(i => math.abs(uNew(i) - u(i)))).max < tolNano
    }
    import spark.implicits._
    (0 until k).map(i =>
        (i.toLong, m(i), u(i), p, nTot.toLong, sweeps.toLong))
      .toDF("field", "m_nano", "u_nano", "p_nano", "n_pairs", "iters_run")
  }
}
