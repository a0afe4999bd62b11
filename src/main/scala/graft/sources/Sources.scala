package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Source/sink helpers.
  *
  * The reference library has no file-format surface of its own (SURVEY
  * §2.1 — tests build frames from literals); this module is the engine's
  * forward surface for real storage:
  *
  *   - schema-explicit readers; parquet reads that give no schema take
  *     it from one file footer read on the driver ([[readParquet]]).
  *     Spark's own non-merging inference reads that same single footer,
  *     but through a Spark job per read;
  *   - nanosecond-timestamp parquet handling (see [[readTable]]);
  *   - layout-aware writers: partitioned for pruning, bucketed for
  *     shuffle-free joins/aggregations on the bucket keys.
  */
object Sources {

  /** Read one harness table, normalizing the `ts` column of the events
    * table to session-zoned TIMESTAMP whatever physical shape the
    * producer chose:
    *
    *   - TIMESTAMP(NANOS): rejected by Spark's vectorized reader, so
    *     nanos are read as longs (`nanosAsLong`, set on the session only
    *     when the footer has such a column) and truncated to
    *     microsecond timestamps — the same conversion DuckDB applies;
    *   - TIMESTAMP(MICROS) with isAdjustedToUTC=false: surfaces as
    *     TIMESTAMP_NTZ, which most chrono functions (`unix_micros`,
    *     `window`, ...) reject. Cast to TIMESTAMP — under this
    *     library's UTC session the wall-clock values are unchanged,
    *     matching DuckDB's naive read exactly.
    *
    * Everything downstream sees one type, so query code never branches.
    */
  def readTable(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val footer = schemaFooter(spark, path)
    // Converting a TIMESTAMP(NANOS) footer needs the flag, and so does the
    // scan when it executes, so it stays set; other reads leave the
    // session as it was.
    if (footer.exists(hasNanosTimestamp)) spark.conf.set(NanosAsLong, "true")
    val df = readFooted(spark, path, footer)
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType)         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case Some(TimestampNTZType) => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                      => df
    }
  }

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** `spark.read.parquet(path)` without the schema-inference job: the
    * schema comes from the same footer Spark's non-merging inference
    * reads, converted the same way, but read here on the driver. Spark's
    * file index still discovers the partition columns and their types.
    * With `spark.sql.parquet.mergeSchema` on, or when there is no footer
    * to read (missing path, no data file, glob pattern), this IS
    * `spark.read.parquet(path)`, errors included.
    */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    readFooted(spark, path, schemaFooter(spark, path))

  private def readFooted(spark: SparkSession, path: String,
                         footer: Option[Footer]): DataFrame = {
    val conf = spark.sessionState.conf
    footer.filterNot(_ => conf.isParquetSchemaMergingEnabled) match {
      case Some(f) => spark.read.schema(ParquetFileFormat.readSchemaFromFooter(
        f, new ParquetToSparkSchemaConverter(conf))).parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  /** The footer `ParquetUtils.inferSchema` reads when schemas are not
    * merged: among the leaf files Spark's file index lists, sorted by path,
    * `_common_metadata`, else `_metadata`, else the first data file. Read
    * without its row-group metadata, which the schema does not need.
    */
  private def schemaFooter(spark: SparkSession, path: String): Option[Footer] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    // Spark expands a glob pattern itself; it names no file to read here
    if (path.exists("{}[]*?\\".contains(_)) || !fs.exists(root)) return None
    // HadoopFSUtils.shouldFilterOutPathName: hidden and temporary names,
    // except the summary files and `_k=v` partition directories. Listing a
    // file gives the file, so a root file passes the same filter.
    def listed(name: String): Boolean =
      name.startsWith("_common_metadata") || name.startsWith("_metadata") ||
        !((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
          name.endsWith("._COPYING_"))
    def leaves(p: Path): Seq[FileStatus] =
      fs.listStatus(p).toSeq.filter(c => listed(c.getPath.getName))
        .flatMap(c => if (c.isDirectory) leaves(c.getPath) else Seq(c))
    val summaries = Seq("_common_metadata", "_metadata")
    val (summary, data) = leaves(root).sortBy(_.getPath.toString)
      .partition(f => summaries.contains(f.getPath.getName))
    summaries.flatMap(n => summary.find(_.getPath.getName == n)).headOption
      .orElse(data.headOption)
      .map { st =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf),
          HadoopReadOptions.builder(conf)
            .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build())
        try new Footer(st.getPath, reader.getFooter) finally reader.close()
      }
  }

  /** An INT64 TIMESTAMP(NANOS) leaf column in the footer's parquet schema. */
  private def hasNanosTimestamp(f: Footer): Boolean =
    f.getParquetMetadata.getFileMetaData.getSchema.getColumns.asScala.exists { c =>
      val t = c.getPrimitiveType
      t.getPrimitiveTypeName == PrimitiveTypeName.INT64 && (t.getLogicalTypeAnnotation match {
        case ts: TimestampLogicalTypeAnnotation => ts.getUnit == TimeUnit.NANOS
        case _ => false
      })
    }

  /** Schema-explicit CSV reader (header expected, no inference scan). */
  def readCsv(spark: SparkSession, path: String, ddl: String,
              header: Boolean = true, delimiter: String = ","): DataFrame =
    spark.read
      .schema(StructType.fromDDL(ddl))
      .option("header", header.toString)
      .option("sep", delimiter)
      .csv(path)

  /** Schema-explicit JSON-lines reader. */
  def readJsonl(spark: SparkSession, path: String, ddl: String): DataFrame =
    spark.read.schema(StructType.fromDDL(ddl)).json(path)

  /** ORC reader — the other columnar format the warehouse world hands
    * over (Hive-era tables, the reference's deployment environment was
    * a Hive/HDFS cluster: ons_utils/config/validation.py:279-320). An
    * explicit `ddl` pins the read schema (column pruning + footer
    * skipping work exactly as with parquet); None trusts file metadata.
    */
  def readOrc(spark: SparkSession, path: String, ddl: Option[String] = None): DataFrame =
    ddl.fold(spark.read)(d => spark.read.schema(StructType.fromDDL(d))).orc(path)

  /** ORC writer (snappy, the cross-ecosystem default). */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("compression", "snappy").orc(path)

  /** Dynamic partition overwrite — replace ONLY the partitions the
    * incoming frame touches, leave every other partition's files alone
    * (the incremental-reprocess contract: re-run one day of a
    * date-partitioned corpus without rewriting — or worse, DROPPING —
    * the other 3 years, which is exactly what plain `overwrite` +
    * `partitionBy` does under Spark's default STATIC mode). The mode is
    * set per-write here, not session-wide, so callers can't be broken
    * by global config drift.
    */
  def overwritePartitionsDynamic(df: DataFrame, path: String,
                                 partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** JSONL reader for dirty corpora (crawl dumps always carry malformed
    * lines): malformed records land whole in `corruptCol` with every
    * schema field null, instead of silently nulling fields (default
    * PERMISSIVE without the column) or killing the job (FAILFAST).
    * Filter `corruptCol.isNotNull` into a quarantine sink and keep the
    * pipeline moving.
    *
    * Deliberately a text scan + `from_json`, not `spark.read.json` with
    * a corrupt-record schema: Spark REFUSES raw-file queries that
    * reference only the internal corrupt column (the quarantine sink's
    * exact access pattern — its documented workaround is caching, a
    * non-starter at corpus scale), while the expression form has no such
    * restriction and works identically under `readStream`.
    */
  def readJsonlQuarantine(spark: SparkSession, path: String, ddl: String,
                          corruptCol: String = "_corrupt_record"): DataFrame =
    quarantineJsonl(spark.read.text(path), ddl, corruptCol)

  /** The parse+quarantine step of [[readJsonlQuarantine]] over ANY frame
    * with a string `value` column — batch (`spark.read.text`) or
    * streaming (`spark.readStream.text`, a socket/Kafka value column):
    * pure expressions, so the same code path is micro-batch-safe.
    */
  def quarantineJsonl(lines: DataFrame, ddl: String,
                      corruptCol: String = "_corrupt_record"): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, from_json, trim, when}
    val schema = StructType.fromDDL(ddl).add(corruptCol, "string")
    val parsed = lines
      // blank/whitespace lines are non-records: drop them (matching
      // spark.read.json), never emit them as phantom all-null "good" rows
      .filter(trim(col("value")) =!= "")
      .select(from_json(col("value"), schema,
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> corruptCol))
        .as("__rec"), col("value"))
    val dataFields = StructType.fromDDL(ddl).fieldNames.toSeq
    parsed.select(dataFields.map(f => col(s"__rec.`$f`").as(f)) :+
      // a line from_json cannot even produce a struct for (e.g. a bare
      // `null` literal) is corrupt too — carry the raw line
      coalesce(col(s"__rec.`$corruptCol`"),
        when(col("__rec").isNull, col("value"))).as(corruptCol): _*)
  }

  /** Read a parquet directory whose files were written under EVOLVING
    * schemas as one frame — the I/O twin of schema-harmonizing concat,
    * for when the frames are months of files instead of in-memory inputs.
    *
    * With a `targetDdl`, the schema is PINNED on the reader: columns
    * absent in older files surface as null, and physically narrower
    * files widen per Spark 4's parquet type promotion (int32→int64,
    * float→double) — and because nothing is inferred, planning reads NO
    * file footers, which is the only viable mode on a million-file
    * table. Without a target, file footers merge (`mergeSchema`) —
    * handles added/removed columns only (parquet schema merge does not
    * widen types) and pays a footer sweep at planning time.
    */
  def readEvolved(spark: SparkSession, path: String,
                  targetDdl: Option[String] = None): DataFrame =
    targetDdl match {
      case Some(ddl) => spark.read.schema(graft.schema.Types.fromDdl(ddl)).parquet(path)
      case None => spark.read.option("mergeSchema", "true").parquet(path)
    }

  /** Hive-style partitioned parquet write: one directory per distinct
    * partition-column tuple → partition pruning turns predicates on those
    * columns into directory listings instead of data scans. Keep partition
    * cardinality bounded (thousands, not millions of directories).
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
                       mode: String = "overwrite"): Unit =
    df.write.mode(mode).partitionBy(partitionCols: _*).parquet(path)

  /** Bucketed + sorted table write: rows are hash-distributed into
    * `numBuckets` files per partition by `bucketCols`. Joins and
    * aggregations keyed on the bucket columns between same-bucketed tables
    * run WITHOUT an Exchange — the 100 TB answer for repeated fact-fact
    * joins where re-shuffling per query would dominate. (Bucketing
    * requires the table catalog: `saveAsTable`, not a bare path.)
    */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                    numBuckets: Int, mode: String = "overwrite"): Unit = {
    val spark = df.sparkSession
    // An in-memory catalog is fresh per JVM but the warehouse directory is
    // not: an orphaned location from a previous run fails saveAsTable even
    // in overwrite mode. Overwrite means overwrite — clear the stale path.
    if (mode == "overwrite" && !spark.catalog.tableExists(table)) {
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    df.write.mode(mode)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Total on-disk bytes of the data files under a path (hidden files and
    * commit markers excluded) — the size a compaction plan must budget.
    */
  def dataFileBytes(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var total = 0L
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) total += f.getLen
    }
    total
  }

  /** Small-file compaction: rewrite a parquet directory into
    * ~`targetFileBytes` output files — the maintenance pass every
    * streaming/incremental sink needs, because a micro-batch writer at
    * 100 TB accretes millions of KB-sized files whose per-file open cost
    * (and NameNode/listing pressure) eventually dwarfs the scan itself.
    *
    * The plan is size-based: output file count = ceil(input data bytes /
    * targetFileBytes), then one round-robin repartition to exactly that
    * many writers. Input bytes are compressed parquet bytes, so output
    * files land near the target (re-encoding drift aside — this sizes
    * file COUNT, it does not split row groups). Reads once, writes once,
    * one width-change shuffle; never touches the driver with row data.
    *
    * Returns the planned file count. `outPath` must differ from
    * `inPath` (parquet cannot overwrite its own live input).
    */
  def compact(spark: SparkSession, inPath: String, outPath: String,
              targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    // Compare FULLY-QUALIFIED paths: "/data/t" vs "file:/data/t" are the
    // same directory, and an overwrite onto the lazy input scan would
    // destroy the data before it is read.
    val conf = spark.sparkContext.hadoopConfiguration
    def qualified(p: String): org.apache.hadoop.fs.Path = {
      val path = new org.apache.hadoop.fs.Path(p)
      path.getFileSystem(conf).makeQualified(path)
    }
    val qIn = qualified(inPath)
    val qOut = qualified(outPath)
    // Reject prefix containment in BOTH directions, not just equality:
    // an outPath nested under inPath (/data/t → /data/t/compacted)
    // writes data files into the live input tree and double-counts
    // those rows on the next read/compaction of inPath.
    def contains(ancestor: org.apache.hadoop.fs.Path,
                 other: org.apache.hadoop.fs.Path): Boolean = {
      var p: org.apache.hadoop.fs.Path = other
      while (p != null) {
        if (p == ancestor) return true
        p = p.getParent
      }
      false
    }
    require(!contains(qIn, qOut) && !contains(qOut, qIn),
      s"compact cannot write onto or inside its input (or vice versa): $qIn vs $qOut")
    val bytes = dataFileBytes(spark, inPath)
    val nFiles = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    readParquet(spark, inPath).repartition(nFiles)
      .write.mode("overwrite").parquet(outPath)
    nFiles
  }

  /** Build a file-level min/max statistics index over `statsCols` — the
    * external data-skipping table (Delta/Iceberg-style) for paths where
    * engine-side row-group pruning isn't enough: the index is thousands
    * of rows for millions of files, so planning-time pruning becomes a
    * driver-cheap filter on THIS table instead of a footer read per
    * file. Pair with [[graft.ops.ZOrder]]: clustering is what makes
    * these ranges narrow.
    *
    * One scan of the data (aggregates ride `_metadata.file_path`,
    * map-side combined — files never interleave partitions, so partial
    * aggs collapse well). Output: one row per file with `n_rows` and
    * `min_<c>` / `max_<c>` per stats column (nulls ignored, all-null
    * file → null bounds).
    */
  def fileStatsIndex(spark: SparkSession, path: String, statsCols: Seq[String]): DataFrame = {
    require(statsCols.nonEmpty, "need at least one stats column")
    import org.apache.spark.sql.functions.{col, count, lit, max, min}
    val aggs = count(lit(1)).as("n_rows") +:
      statsCols.flatMap(c => Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    readParquet(spark, path)
      .select(col("_metadata.file_path").as("file") +: statsCols.map(col): _*)
      .groupBy(col("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Prune a file list with the stats index: keep files whose
    * [min, max] range on `c` intersects [lo, hi]. Null bounds (all-null
    * file) keep the file — skipping may only drop PROVABLY irrelevant
    * files. Returns the surviving file paths (driver-side: the index is
    * file-count-sized by construction; feed them back through
    * `spark.read.parquet(files: _*)`).
    */
  def pruneFilesByRange(index: DataFrame, c: String, lo: Any, hi: Any): Seq[String] = {
    import org.apache.spark.sql.functions.{col, lit}
    index.filter(
        col(s"min_$c").isNull ||
        (col(s"max_$c") >= lit(lo) && col(s"min_$c") <= lit(hi)))
      .select("file").collect().map(_.getString(0)).toSeq
  }
}
