package graft.sources

import java.nio.file.{Files, Path => JPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.AnalysisException
import org.scalatest.funsuite.AnyFunSuite

import graft.testing.{SparkActions, TempDirs, TestSpark}

/** The driver-side parquet schema resolver ([[Sources.readParquet]],
  * [[Sources.readTable]]): the same schema Spark's own inference gives,
  * without the inference job, and without touching the session's
  * nanos-as-long flag unless the file needs it.
  */
class ReadParquetSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val sf = "/root/testdata/sf0.001"
  private val tables = Seq("customer", "documents", "embeddings", "events", "lineitem",
    "nation", "orders", "part", "region", "supplier")
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
  private val tsNanos = 1709296496789012345L

  /** A non-Spark file with an INT64 TIMESTAMP(NANOS, false) `ts`, written
    * with parquet-hadoop's example writer, at `<dir>/events.parquet`.
    */
  private def nanosTable(): JPath = {
    val dir = TempDirs("graft-nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 ts (TIMESTAMP(NANOS,false)); required int64 id; }")
    val out = HadoopOutputFile.fromPath(new Path(s"$dir/events.parquet"), new Configuration)
    val w = ExampleParquetWriter.builder(out).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("ts", tsNanos).append("id", 1L))
    finally w.close()
    dir
  }

  /** Run `body` with the flag at `value` (None: unset), then restore it. */
  private def withNanosFlag[T](value: Option[String])(body: => T): T = {
    val saved = spark.conf.getAll.get(NanosAsLong)
    value.fold(spark.conf.unset(NanosAsLong))(spark.conf.set(NanosAsLong, _))
    try body
    finally saved.fold(spark.conf.unset(NanosAsLong))(spark.conf.set(NanosAsLong, _))
  }

  private def flagSet: Option[String] = spark.conf.getAll.get(NanosAsLong)

  private def assertSameAsInferred(path: String): Unit = {
    val inferredJobs = SparkActions.count(spark.read.parquet(path))
    val jobs = SparkActions.count(Sources.readParquet(spark, path))
    val inferred = spark.read.parquet(path).schema
    val resolved = Sources.readParquet(spark, path).schema
    // StructType equality: names, types, nullability, metadata and order
    assert(resolved == inferred, s"$path\nresolved: ${resolved.treeString}\ninferred: ${inferred.treeString}")
    assert(inferredJobs == 1, s"$path: Spark's inference ran $inferredJobs jobs")
    assert(jobs == 0, s"$path: the resolved read ran $jobs jobs")
  }

  test("readParquet matches Spark's inferred schema on every sf0.001 table, with no job") {
    tables.foreach(t => assertSameAsInferred(s"$sf/$t.parquet"))
  }

  test("readParquet matches Spark's inferred schema on a Spark-written NTZ file") {
    val dir = TempDirs("graft-ntz").resolve("t").toString
    spark.sql("SELECT TIMESTAMP_NTZ '2024-03-01 12:34:56.789012' AS ts, 1L AS id, " +
      "CAST('x' AS VARCHAR(3)) AS v").write.parquet(dir)
    assertSameAsInferred(dir)
  }

  test("readParquet matches Spark's inferred schema on an INT64 TIMESTAMP(NANOS) file") {
    val path = s"${nanosTable()}/events.parquet"
    // Spark itself converts this footer only under the legacy flag
    withNanosFlag(Some("true"))(assertSameAsInferred(path))
  }

  test("readParquet keeps day partitions, their types, and skips _SUCCESS and .crc files") {
    val dir = TempDirs("graft-days").resolve("t")
    spark.range(40).selectExpr("id", "CAST(id * 2 AS INT) AS v",
        "date_add(DATE '2024-03-01', CAST(id % 4 AS INT)) AS day")
      .repartition(3).write.partitionBy("day").parquet(dir.toString)
    val names = Files.walk(dir).toArray.map(_.asInstanceOf[JPath].getFileName.toString)
    assert(names.contains("_SUCCESS") && names.exists(n => n.startsWith(".") && n.endsWith(".crc")))
    assertSameAsInferred(dir.toString)
    assert(Sources.readParquet(spark, dir.toString).schema("day").dataType.typeName == "date")
    assert(Sources.readParquet(spark, dir.toString).count() == 40)
  }

  test("readParquet reads a flat directory holding _SUCCESS and .crc files") {
    val dir = TempDirs("graft-flat").resolve("t")
    spark.range(10).selectExpr("id", "CAST(id AS STRING) AS s").repartition(2)
      .write.parquet(dir.toString)
    // a stray hidden file that is no parquet file must not be picked
    Files.writeString(dir.resolve(".aaa-hidden"), "not parquet")
    assertSameAsInferred(dir.toString)
  }

  test("readParquet raises Spark's own errors for a missing path and a data-less directory") {
    val root = TempDirs("graft-errs")
    val missing = intercept[AnalysisException](
      Sources.readParquet(spark, root.resolve("absent").toString))
    assert(missing.getCondition == "PATH_NOT_FOUND")
    val bare = root.resolve("bare")
    Files.createDirectory(bare)
    Files.writeString(bare.resolve("_SUCCESS"), "")
    val empty = intercept[AnalysisException](Sources.readParquet(spark, bare.toString))
    assert(empty.getCondition == "UNABLE_TO_INFER_SCHEMA")
  }

  test("readTable, fileStatsIndex and compact's read build their frames with no job") {
    assert(SparkActions.count(tables.foreach(Sources.readTable(spark, sf, _))) == 0)
    val dir = TempDirs("graft-stats").resolve("t").toString
    spark.range(100).selectExpr("id", "id % 7 AS k").repartition(4).write.parquet(dir)
    assert(SparkActions.count(Sources.fileStatsIndex(spark, dir, Seq("k"))) == 0)
    // compact runs exactly its one write action
    val out = TempDirs("graft-compact").resolve("o").toString
    assert(SparkActions.count(Sources.compact(spark, dir, out, 1L << 20)) == 1)
    assert(Sources.readParquet(spark, out).count() == 100)
  }

  test("readTable leaves the nanos-as-long flag unset on a microsecond table") {
    withNanosFlag(None) {
      val e = Sources.readTable(spark, sf, "events")
      assert(e.schema("ts").dataType.typeName == "timestamp")
      assert(e.selectExpr("unix_micros(ts)").count() == 1000)
      assert(flagSet.isEmpty, s"readTable set $NanosAsLong on a micros table")
    }
  }

  test("readTable reads a real TIMESTAMP(NANOS) file as session TIMESTAMP, flag unset or set") {
    val dir = nanosTable().toString
    Seq(None, Some("true")).foreach { before =>
      withNanosFlag(before) {
        val e = Sources.readTable(spark, dir, "events")
        assert(e.schema("ts").dataType.typeName == "timestamp", s"flag before: $before")
        assert(e.selectExpr("unix_micros(ts)").head().getLong(0) == tsNanos / 1000)
        // the scan needs the flag at execution, so a nanos file sets it
        assert(flagSet.contains("true"))
      }
    }
  }
}
