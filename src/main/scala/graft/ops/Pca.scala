package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, LongType, StructField, StructType}

/** Top principal component by integer power iteration — the "what ONE
  * direction explains this embedding store?" readout (drift axes,
  * dominant topic, whitening prep) without a float solver anywhere.
  *
  * Not in the reference; engine extension (SURVEY §2.11), LLM-pipeline
  * family.
  */
object Pca {

  /** Top eigenvector of the scatter matrix of the first `dims`
    * embedding coordinates, by at most `iterations` rounds of integer
    * power iteration, stopping at the exact fixed point (a round that
    * leaves the vector unchanged). Returns one row per dimension:
    * `(dim, loading, eigenvalue, var_share)` — dim is 1-based (the SQL
    * indexing convention), loading the unit-ish eigvector component in
    * [−1, 1], eigenvalue the explained variance in original units²,
    * var_share its fraction of total variance. All null when the
    * slice is constant.
    *
    * Determinism: coordinates micro-quantize; the scatter matrix
    * S = n·Σxxᵀ − (Σx)(Σx)ᵀ is exact integers; each round is
    * uᵢ = Σⱼ Sᵢⱼvⱼ followed by vᵢ = uᵢ·10⁶ / max|u| with truncating
    * integer division (the PageRank convention — DuckDB's `//` and
    * BigInt `/` both truncate toward zero), so any engine replays the
    * identical vector after any number of rounds. S is PSD, so the
    * iterate cannot oscillate in sign.
    *
    * Scale shape: ONE map-combined grand aggregation (dims linear +
    * dims(dims+1)/2 pair moments — no explode, no pair shuffle; the
    * corpus is scanned once); the iteration runs on the driver over a
    * dims² integer matrix, bounded BY DEFINITION (the k-means/isotonic
    * bounded-driver posture). `dims` ≤ 24 keeps the single-pass
    * aggregate inside codegen limits — slice wider stores by running
    * per-slice.
    */
  def pcaTopComponent(df: DataFrame, vecCol: String, dims: Int,
                      iterations: Int = 8): DataFrame = {
    require(dims >= 2 && dims <= 24, s"dims out of range: $dims")
    require(iterations >= 1 && iterations <= 16,
      s"iterations out of range: $iterations")
    val dec = DecimalType(38, 0)
    val xs = (0 until dims).map(i =>
      round(col(vecCol).getItem(i).cast("double") * lit(1e6), 0)
        .cast("long").as(s"__x$i"))
    val base = df.filter(col(vecCol).isNotNull && size(col(vecCol)) >= dims)
      .select(xs: _*)
    val pairIdx = for { i <- 0 until dims; j <- i until dims } yield (i, j)
    val aggs = (count(lit(1)).as("__n") +:
      (0 until dims).map(i => sum(col(s"__x$i").cast(dec)).as(s"__s$i"))) ++
      pairIdx.map { case (i, j) =>
        sum(col(s"__x$i").cast(dec) * col(s"__x$j").cast(dec)).as(s"__p${i}_$j")
      }
    val row = Observe.scalars(base, aggs: _*)
    val n = BigInt(row.getLong(0))
    def dcm(idx: Int): BigInt =
      Option(row.getDecimal(idx)).map(d => BigInt(d.toBigInteger)).getOrElse(BigInt(0))
    val s1 = (0 until dims).map(i => dcm(1 + i))
    val pOff = 1 + dims
    val pMap = pairIdx.zipWithIndex.map { case ((i, j), k) =>
      (i, j) -> dcm(pOff + k)
    }.toMap
    // scatter matrix: exact, symmetric
    val scat = Array.tabulate(dims, dims) { (i, j) =>
      val p = if (i <= j) pMap((i, j)) else pMap((j, i))
      n * p - s1(i) * s1(j)
    }
    // power iteration on the exact scatter; None once a round's product is
    // the zero vector (always so below two rows, where the scatter is 0).
    // The state is exact, so a round that leaves v unchanged is the fixed
    // point: every later round repeats it
    val (vOpt, _) = Observe.iterate("pcaTopComponent",
        Option(Vector.fill(dims)(BigInt(1000000))), iterations) {
      _.flatMap { v =>
        val u = Vector.tabulate(dims)(i => (0 until dims).map(j => scat(i)(j) * v(j)).sum)
        val mx = u.map(_.abs).max
        if (mx == 0) None else Some(u.map(_ * 1000000 / mx))
      }
    }((prev, next) => next.isEmpty || prev == next)
    val spark = df.sparkSession
    val schema = StructType(Seq(
      StructField("dim", IntegerType, nullable = false),
      StructField("n", LongType, nullable = false),
      StructField("loading", DoubleType, nullable = true),
      StructField("eigenvalue", DoubleType, nullable = true),
      StructField("var_share", DoubleType, nullable = true)))
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val trace = (0 until dims).map(i => scat(i)(i)).sum
    val out: Seq[Row] =
      if (vOpt.isEmpty || trace <= 0)
        (0 until dims).map(i => Row(i + 1, n.toLong, null, null, null))
      else {
        val v = vOpt.get
        val num = (for { i <- 0 until dims; j <- 0 until dims }
          yield v(i) * scat(i)(j) * v(j)).sum
        val den = (0 until dims).map(i => v(i) * v(i)).sum
        val nD = n.toDouble
        val eig = num.toDouble / den.toDouble / (nD * nD) / 1e12
        val share = num.toDouble / den.toDouble / trace.toDouble
        (0 until dims).map { i =>
          Row(i + 1, n.toLong, r6(v(i).toDouble / 1e6), r6(eig), r6(share))
        }
      }
    spark.createDataFrame(spark.sparkContext.parallelize(out, 1), schema)
  }
}
