package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testing.{TempDirs, TestSpark}
import graft.testing.DfAssert.createDf

class ZOrderSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Reference Morton model: column k's bit i → output bit i*n+k. */
  private def morton(vals: Seq[Long], bits: Int): Long = {
    val n = vals.size
    (for {
      i <- 0 until bits
      k <- 0 until n
    } yield ((vals(k) >> i) & 1L) << (i * n + k)).foldLeft(0L)(_ | _)
  }

  test("zValue matches the bit-interleaving model on random coordinates") {
    val rnd = new scala.util.Random(11)
    val pts = (1 to 200).map(_ => (rnd.nextInt(1024).toLong, rnd.nextInt(1024).toLong))
    val df = createDf(spark, "x bigint, y bigint", pts.map(p => Seq[Any](p._1, p._2)))
      .withColumn("z", ZOrder.zValue(Seq(col("x"), col("y")), 10))
    df.collect().foreach { r =>
      assert(r.getLong(2) == morton(Seq(r.getLong(0), r.getLong(1)), 10),
        s"morton mismatch at (${r.getLong(0)}, ${r.getLong(1)})")
    }
  }

  test("known interleavings: (1,0)->1, (0,1)->2, (3,5)->39") {
    val df = createDf(spark, "x bigint, y bigint",
      Seq(Seq[Any](1L, 0L), Seq[Any](0L, 1L), Seq[Any](3L, 5L)))
      .withColumn("z", ZOrder.zValue(Seq(col("x"), col("y")), 4))
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // (3,5): x bits 11 at even positions -> 0b0101; y bits 101 at odd -> 0b100010
    assert(got == Map((1L, 0L) -> 1L, (0L, 1L) -> 2L, (3L, 5L) -> 39L))
  }

  test("zValue is injective on the grid (three columns)") {
    val pts = for { x <- 0L to 7L; y <- 0L to 7L; w <- 0L to 7L } yield (x, y, w)
    val df = createDf(spark, "x bigint, y bigint, w bigint",
      pts.map(p => Seq[Any](p._1, p._2, p._3)))
      .withColumn("z", ZOrder.zValue(Seq(col("x"), col("y"), col("w")), 3))
    assert(df.select("z").distinct().count() == 512)
    assert(df.agg(max("z")).head().getLong(0) == 511L)
  }

  test("gridCoord quantizes into [0, 2^bits) and clamps outliers") {
    val df = createDf(spark, "v double",
      Seq(Seq[Any](-5.0), Seq[Any](0.0), Seq[Any](50.0), Seq[Any](99.999), Seq[Any](200.0)))
      .withColumn("g", ZOrder.gridCoord(col("v"), 0.0, 100.0, 4))
    val got = df.collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(got == Map(-5.0 -> 0L, 0.0 -> 0L, 50.0 -> 8L, 99.999 -> 15L, 200.0 -> 15L))
  }

  test("z-ordered files cover bounded rectangles: per-file key spread shrinks") {
    val dir = TempDirs("graft-zorder").toString
    val li = graft.sources.Sources.readTable(spark, "/root/testdata/sf0.001", "lineitem")
      .select((col("l_partkey") % 256).as("x"), (col("l_suppkey") % 256).as("y"))
    ZOrder.writeZOrdered(li, dir, Seq("x", "y"), bits = 8, numFiles = 8)
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.getPath)
    assert(files.length >= 4, s"expected several data files, got ${files.length}")
    val spreads = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(max("x") - min("x"), max("y") - min("y")).head()
      (r.getLong(0), r.getLong(1))
    }
    val avgX = spreads.map(_._1).sum.toDouble / spreads.length
    val avgY = spreads.map(_._2).sum.toDouble / spreads.length
    // random layout would give ~255 spread per file on both axes; the
    // z-curve bounds each file to a fraction of the grid on BOTH axes
    assert(avgX < 200 && avgY < 200,
      s"files should cluster both dimensions, got avg spreads x=$avgX y=$avgY")
  }
}
