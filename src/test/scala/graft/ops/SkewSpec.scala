package graft.ops

import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testing.TestSpark
import graft.testing.DfAssert.{assertDfEquality, createDf}

class SkewSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def skewed = createDf(spark, Seq("k", "v"),
    (1 to 200).map(i => Seq[Any]("hot", i.toDouble)) ++
      Seq(Seq[Any]("cold1", 1.0), Seq[Any]("cold2", 2.0)))

  test("saltedAggregate equals the unsalted aggregation") {
    val salted = Skew.saltedAggregate(skewed, Seq("k"), 8,
      partial = Seq(sum("v").as("ps"), count(lit(1)).as("pc")),
      combine = Seq(sum("ps").as("sum_v"), sum("pc").as("n")))
    val plain = skewed.groupBy("k").agg(sum("v").as("sum_v"), count(lit(1)).as("n"))
    assertDfEquality(salted, plain)
  }

  test("saltedJoin equals the plain join") {
    val dim = createDf(spark, Seq("k", "name"),
      Seq(Seq("hot", "H"), Seq("cold1", "C1"), Seq("missing", "M")))
    val salted = Skew.saltedJoin(skewed, dim, Seq("k"), 4)
      .groupBy("k", "name").agg(count(lit(1)).as("n"))
    val plain = skewed.join(dim, Seq("k"))
      .groupBy("k", "name").agg(count(lit(1)).as("n"))
    assertDfEquality(salted, plain)
  }

  test("AQE skew-join split fires on a seeded hot key (VERDICT r14 #6)") {
    // Seeded-skew fixture: one key owns ~90% of the big side's rows
    // (with a wide payload so its post-shuffle partition crosses the
    // lowered skew threshold), joined against a small-but-unbroadcast
    // side. With the skew thresholds scaled to test size, AQE must
    // rewrite the sort-merge join's hot-side read into skew-split
    // sub-partitions — an `AQEShuffleReadExec` with skewed partition
    // specs in the FINAL adaptive plan. This pins that the first-line
    // mitigation the Skew scaladoc leans on actually engages on a
    // demonstrably hot key.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force SMJ
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "262144",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "65536",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      // payload: high-entropy (sha2) so the shuffle compressor cannot
      // flatten the hot partition below the skew threshold, and SUMMED
      // in the aggregate so column pruning cannot drop it before the
      // exchange — the skew decision reads compressed map-output sizes
      val big = spark.range(0L, 120000L, 1L, 8)
        .select(
          when(col("id") % 10L =!= 0L, lit(7L)).otherwise(col("id")).as("k"),
          concat(sha2(col("id").cast("string"), 256),
            sha2((col("id") + 1L).cast("string"), 256)).as("payload"))
      val small = spark.range(0L, 4000L, 1L, 4).select(col("id").as("k"),
        (col("id") * 2L).as("w"))
      val joined = big.join(small, Seq("k"))
        .agg(count(lit(1)).as("n"), sum(col("w")).as("sw"),
          sum(length(col("payload"))).as("sp"))
      val row = joined.collect().head
      // correctness of the fixture: hot key 7 matches (108000 rows) plus
      // the 400 cold keys (multiples of 10 below 4000)
      assert(row.getLong(0) == 108000L + 400L)
      assert(row.getLong(2) == (108000L + 400L) * 128L)
      // the join sits inside a later query stage, so walk the stages too
      val finalPlan = joined.queryExecution.executedPlan
      val skewReads = new AdaptiveSparkPlanHelper {}.collect(finalPlan) {
        case r: AQEShuffleReadExec if r.hasSkewedPartition => r
      }
      assert(skewReads.nonEmpty,
        s"AQE skew split did not fire on the seeded hot key:\n${finalPlan.toString.take(1500)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("keySkewReport finds the hot key and sizes the salt to the ratio") {
    // ratio here is ~2.97: below the default threshold of 4, above 2
    val r = Skew.keySkewReport(skewed, Seq("k"), threshold = 2.0).head()
    assert(r.getAs[Long]("n_rows") == 202L)
    assert(r.getAs[Long]("n_keys") == 3L)
    assert(r.getAs[Long]("max_key_rows") == 200L)
    assert(r.getAs[String]("top_key") == "hot")
    val ratio = r.getAs[Double]("skew_ratio")
    assert(math.abs(ratio - 200.0 / (202.0 / 3.0)) < 1e-12)
    assert(r.getAs[Int]("recommended_salt") == math.ceil(ratio).toInt)
    // same data under the default threshold of 4: no recommendation
    assert(Skew.keySkewReport(skewed, Seq("k")).head()
      .getAs[Int]("recommended_salt") == 0)
  }

  test("keySkewReport recommends no salt for a uniform key") {
    val uniform = createDf(spark, Seq("k", "v"),
      (1 to 100).map(i => Seq[Any](s"k${i % 10}", i.toDouble)))
    val r = Skew.keySkewReport(uniform, Seq("k")).head()
    assert(r.getAs[Double]("skew_ratio") == 1.0)
    assert(r.getAs[Int]("recommended_salt") == 0)
  }
}

class SqlFunctionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("dot_f64 resolves in SQL after registration (extensions path)") {
    graft.GraftSession.registerFunctions(spark)
    val got = spark.sql(
      "SELECT dot_f64(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS d")
      .head().getDouble(0)
    assert(got == 32.0)
  }

  test("minhash_sig and simhash32 resolve in SQL and match the Column API") {
    graft.GraftSession.registerFunctions(spark)
    val viaSql = spark.sql(
      "SELECT minhash_sig(array('a b c d e'), 4) AS sig, simhash32(array('x', 'y')) AS sh").head()
    val viaCols = graft.testing.DfAssert.createDf(spark, "t string", Seq(Seq("ignored")))
      .select(
        graft.functions.ArrayMath.minhashSig(
          org.apache.spark.sql.functions.array(org.apache.spark.sql.functions.lit("a b c d e")), 4).as("sig"),
        graft.functions.ArrayMath.simhash32(
          org.apache.spark.sql.functions.array(
            org.apache.spark.sql.functions.lit("x"), org.apache.spark.sql.functions.lit("y"))).as("sh"))
      .head()
    assert(viaSql.getSeq[Long](0) == viaCols.getSeq[Long](0))
    assert(viaSql.getLong(1) == viaCols.getLong(1))
    assert(viaSql.getLong(1) >= 0 && viaSql.getLong(1) < (1L << 32))
  }

  test("dot_f64 null-propagates on null elements (matches HOF fold semantics)") {
    graft.GraftSession.registerFunctions(spark)
    val r = spark.sql(
      "SELECT dot_f64(array(1.0d, CAST(NULL AS DOUBLE)), array(1.0d, 2.0d)) AS d").head()
    assert(r.isNullAt(0))
  }

  test("dot_f64 rejects non-double-array inputs with a type error") {
    graft.GraftSession.registerFunctions(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT dot_f64(array('a'), array('b'))").collect()
    }
    assert(e.getMessage.contains("dot_f64") || e.getMessage.toLowerCase.contains("type"))
  }
}
