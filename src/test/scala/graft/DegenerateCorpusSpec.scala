package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.testing.{TempDirs, TestSpark}

/** Guards the degenerate-lint's foundation (tools/degenerate_lint.py):
  * the n0/n1 fixtures must be exactly what the lint assumes — same
  * schema as the source read, zero rows in n0, exactly one
  * DETERMINISTIC row in n1 (the all-columns orderBy minimum, so two
  * generations of the corpus can never disagree on which row survived).
  */
class DegenerateCorpusSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("n0 is empty and n1 holds the deterministic minimum row, schema-preserving") {
    val out = TempDirs("graft-degcorpus").toString
    DegenerateCorpus.write(spark, "/root/testdata/sf0.001", out)
    for (tbl <- DegenerateCorpus.tables) {
      val src = sources.Sources.readTable(spark, "/root/testdata/sf0.001", tbl)
      val n0 = spark.read.parquet(s"$out/n0/$tbl.parquet")
      val n1 = spark.read.parquet(s"$out/n1/$tbl.parquet")
      assert(n0.schema == src.schema, s"$tbl n0 schema drifted")
      assert(n1.schema == src.schema, s"$tbl n1 schema drifted")
      assert(n0.count() == 0L, s"$tbl n0 must be empty")
      assert(n1.count() == 1L, s"$tbl n1 must hold exactly one row")
      // determinism: the surviving row is the all-columns orderBy minimum
      val cols = src.columns.map(org.apache.spark.sql.functions.col)
      assert(n1.head() == src.orderBy(cols.toIndexedSeq: _*).head(),
        s"$tbl n1 row is not the orderBy-minimum row")
    }
  }
}
