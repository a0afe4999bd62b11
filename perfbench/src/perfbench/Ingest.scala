package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Sources

/** The write-path steps of a pipeline, over the daily event batches that
  * `gen_data.py` landed (`landing/batches/<day>.parquet`, and a corrected
  * re-delivery of each day in `landing/redo/`). The seed picks eight days
  * to ingest, the day that is re-delivered, and an event_id range for
  * pruning. The batches are written partitioned by day, the re-delivered
  * day is overwritten in place, the table is indexed and pruned on the
  * range, compacted, and read back two ways. The pruned read and the
  * read-backs must equal the batches as they stand after the re-delivery,
  * so the steps check themselves: [[expected]] is computed after the
  * pass, untimed.
  */
final class Ingest(spark: SparkSession, data: String, work: String, seed: Long) {
  private val dir = s"$work/ingest"
  private val table = s"$dir/events_by_day"
  private val compactedName = "events_compacted"
  private val compacted = s"$dir/$compactedName.parquet"
  private val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props", "day")
  // the columns a data file of the day-partitioned table holds
  private val fileCols = cols.filter(_ != "day")
  private val targetDdl = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, " +
    "value DOUBLE, props STRING, day DATE, source_batch STRING"
  private var filesWritten = 0L
  private var bytesWritten = 0L
  private var keptFrac = 0.0

  // (day, first event_id, last event_id) of every landed day
  private val days: Seq[(String, Long, Long)] = {
    val f = scala.io.Source.fromFile(s"$data/landing/days.tsv")
    try f.getLines().map(_.split('\t')).map(a => (a(0), a(1).toLong, a(2).toLong)).toList
    finally f.close()
  }
  private val rnd = new scala.util.Random(seed)
  private val picked = rnd.shuffle(days).take(math.min(8, days.size))
  private val redoDay = picked(rnd.nextInt(picked.size))._1
  private val batchFiles = picked.map(d => s"$data/landing/batches/${d._1}.parquet")
  private val redoFile = s"$data/landing/redo/$redoDay.parquet"
  private val inputBytes = (redoFile +: batchFiles).map(new java.io.File(_).length).sum
  // a quarter of the landed ids, so the pruning range always keeps some files
  private val (lo, hi) = {
    val ids = picked.flatMap(d => d._2 to d._3).sorted
    val k = rnd.nextInt(ids.length - ids.length / 4)
    (ids(k), ids(k + ids.length / 4))
  }
  private def batches: DataFrame = spark.read.parquet(batchFiles: _*)
  private def redo: DataFrame = spark.read.parquet(redoFile)
  private def inRange(df: DataFrame): DataFrame = df.where(col("event_id").between(lo, hi))
  private def dayAgg(df: DataFrame): DataFrame =
    df.groupBy("day", "event_type")
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,2)")).as("value"))

  /** Expected "rows:hash" of the steps whose output the landed batches determine. */
  def expected(): Map[String, String] = {
    val current = batches.join(redo.select("day").distinct(), Seq("day"), "left_anti")
      .unionByName(redo).select(cols.map(col): _*)
    def fp(df: DataFrame): String = {
      val r = Pass.fingerprint(df, None).collect().head
      s"${r.getLong(0)}:${r.get(1)}"
    }
    Map("ingest.index_prune" -> fp(inRange(current).select(fileCols.map(col): _*)),
      "ingest.read_evolved" -> fp(current), "ingest.read_table_agg" -> fp(dayAgg(current)))
  }

  val writeSteps: Set[String] = Set("ingest.write", "ingest.overwrite", "ingest.compact")

  private def dataFiles(path: String): Map[String, (Long, Long)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Map.empty
    val it = fs.listFiles(p, true)
    val out = mutable.Map.empty[String, (Long, Long)]
    while (it.hasNext) {
      val f = it.next()
      val n = f.getPath.getName
      if (!n.startsWith("_") && !n.startsWith(".")) out(f.getPath.toString) = (f.getLen, f.getModificationTime)
    }
    out.toMap
  }

  /** Run a write into `path`, count the data files it created or replaced,
    * and return them as a one-row frame.
    */
  private def written(path: String)(write: => Unit): DataFrame = {
    val before = dataFiles(path)
    write
    val changed = dataFiles(path).filter { case (k, v) => !before.get(k).contains(v) }
    val (files, bytes) = (changed.size.toLong, changed.values.map(_._1).sum)
    filesWritten += files
    bytesWritten += bytes
    spark.range(1).select(lit(files).as("files"), lit(bytes).as("bytes"))
  }

  val steps: Seq[(String, () => DataFrame)] = Seq(
    "ingest.write" -> (() => written(table) {
      Sources.writePartitioned(batches, table, Seq("day"))
    }),
    "ingest.overwrite" -> (() => written(table) {
      Sources.overwritePartitionsDynamic(redo, table, Seq("day"))
    }),
    "ingest.index_prune" -> (() => {
      val index = Sources.fileStatsIndex(spark, table, Seq("event_id")).cache()
      val indexed = index.count()
      val kept = Sources.pruneFilesByRange(index, "event_id", lo, hi)
      index.unpersist()
      keptFrac = kept.size.toDouble / indexed
      // the in-range rows of the kept files: a file pruned wrongly loses rows
      inRange(spark.read.parquet(kept: _*)).select(fileCols.map(col): _*)
    }),
    "ingest.compact" -> (() => written(compacted) {
      Sources.compact(spark, table, compacted, math.max(1L, inputBytes / 4))
    }),
    "ingest.read_evolved" -> (() =>
      Sources.readEvolved(spark, compacted, Some(targetDdl)).select(cols.map(col): _*)),
    "ingest.read_table_agg" -> (() => dayAgg(Sources.readTable(spark, dir, compactedName))))

  def metrics(writeS: Double): Map[String, Any] = Map(
    "sources.write_s" -> writeS, "sources.files_written" -> filesWritten,
    "sources.bytes_written" -> bytesWritten,
    "sources.write_amp" -> bytesWritten.toDouble / inputBytes,
    "sources.prune_kept_frac" -> keptFrac)
}
