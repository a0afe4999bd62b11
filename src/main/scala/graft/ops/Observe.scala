package graft.ops

import scala.annotation.tailrec
import scala.collection.concurrent.TrieMap
import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.InterpretedOrdering
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** Zero-cost pipeline observability: attach named aggregate metrics to a
  * DataFrame that are computed DURING the next action on it — no second
  * scan, no `.count()` side queries. At 100 TB a separate validation
  * pass doubles the I/O bill; `CollectMetrics` rides the existing job.
  *
  * Wraps Spark's `Observation` API (engine extension, SURVEY §2.11); the
  * reference's validation surface (`config/validation.py`) runs eager
  * separate queries instead — correct on pandas, unaffordable at scale.
  *
  * It also holds the one iteration policy of the iterative operators:
  * the observed checkpoint (a convergence metric riding the job that
  * materializes a generation), the checkpoint cadence of fixed-round
  * loops, the one driver loop with its rounds record, the fixpoint loop
  * built on it with its backstop, and the release of cached or
  * checkpointed frames on every exit.
  *
  * And it holds the driver-read rule: a value the driver reads costs one
  * Spark job, not one per exchange (under AQE every exchange is a job of
  * its own). A global aggregate is read through [[scalars]] (a row count
  * through [[rowCount]]), which drains the frame through one observed pass
  * instead of adding the aggregate's exchange; only exact metrics move
  * there (counts, integer or decimal sums, min, max), since an observed
  * double sum folds in task-completion order. A small table read in order
  * is collected through [[sortedCollect]], which sorts on the driver
  * instead of paying a range-sampling job and a sort exchange. A metric
  * that a checkpoint job can compute rides it through [[checkpointed]].
  */
object Observe {

  /** Attach `metrics` (aggregate expressions) under `name`; read them
    * from the returned [[Observation]] AFTER the frame's next action
    * completes (`observation.get` blocks until then).
    */
  def observed(df: DataFrame, name: String, metrics: Seq[Column]): (DataFrame, Observation) = {
    require(metrics.nonEmpty, "need at least one metric expression")
    val obs = Observation(name)
    (df.observe(obs, metrics.head, metrics.tail: _*), obs)
  }

  /** Materialize `df` as an eager `localCheckpoint` and read one
    * long-valued aggregate `metric` over its rows, computed by that same
    * job (a null result, such as the max of no rows, reads as 0). Only
    * the `keep` columns are materialized, all when none are named.
    */
  def checkpointed(df: DataFrame, metric: Column, keep: String*): (DataFrame, Long) = {
    val (cp, ms) = checkpointed(df, Seq(metric), keep: _*)
    (cp, ms.head)
  }

  /** [[checkpointed]] with several long-valued metrics, all read from the
    * one checkpoint job, in the order given.
    */
  def checkpointed(df: DataFrame, metrics: Seq[Column], keep: String*): (DataFrame, Seq[Long]) = {
    val obs = Observation()
    val observed = df.observe(obs, metrics.head, metrics.tail: _*)
    val cp = atCaller(df, "localCheckpoint")(
      (if (keep.isEmpty) observed else observed.select(keep.map(col): _*)).localCheckpoint(true))
    val row = Await.result(obs.future, Duration.Inf)
    (cp, metrics.indices.map(i => if (row.isNullAt(i)) 0L else row.getAs[Number](i).longValue))
  }

  /** Global aggregates `metrics` over `df`, read on the driver in one Spark
    * job: the metrics ride an observed pass that drains `df` into the
    * `noop` sink, so no aggregate exchange runs (`agg(...).head()` costs
    * that exchange as a job of its own, and a cold persisted `df` its
    * cache build as a third). The row holds the metrics in the order
    * given, with the types and nulls `df.agg(metrics: _*).head()` has.
    * Exact metrics only (counts, integer or decimal sums, min, max): an
    * observed double sum folds in task-completion order.
    */
  def scalars(df: DataFrame, metrics: Column*): Row = {
    val obs = Observation()
    // the empty projection keeps the scan to the columns the metrics read
    val drained = df.observe(obs, metrics.head, metrics.tail: _*).select()
    atCaller(df, "scalars")(drained.write.format("noop").mode("overwrite").save())
    Await.result(obs.future, Duration.Inf)
  }

  /** `df.count()` in one Spark job: [[scalars]] of the row count. */
  def rowCount(df: DataFrame): Long = scalars(df, count(lit(1))).getLong(0)

  /** `df.orderBy(by: _*).collect()` for a driver-sized `df`, sorted on the
    * driver in Spark's own ascending order (nulls first): one job fewer
    * than the range-sampling job and sort exchange `orderBy` costs.
    */
  def sortedCollect(df: DataFrame, by: String*): Array[Row] = {
    val idx = by.map(df.schema.fieldIndex)
    val types = idx.map(df.schema(_).dataType)
    val toCatalyst = types.map(CatalystTypeConverters.createToCatalystConverter)
    val order = InterpretedOrdering.forSchema(types)
    df.collect()
      .map(r => (InternalRow.fromSeq(idx.zip(toCatalyst).map { case (i, c) => c(r.get(i)) }), r))
      .sortBy(_._1)(order).map(_._2)
  }

  /** Round `i` of `n` in a fixed-round loop: `df` checkpointed every third
    * round and on the last, else as is, so lineage stays bounded without a
    * materialization job every round.
    */
  def cadence(df: DataFrame, i: Int, n: Int): DataFrame =
    if (i % 3 == 0 || i == n) atCaller(df, "localCheckpoint")(df.localCheckpoint(true)) else df

  /** Rounds the last run of each named [[iterate]] loop took: a
    * measurement-only record for the ScaleProbe protocol, last writer
    * wins, never read by operators.
    */
  private[graft] val rounds = TrieMap.empty[String, Int]

  /** The driver loop: from `init`, apply `step` at most `maxRounds` times,
    * stopping after the first round where `done(previous, next)` holds.
    * Returns the last state and the rounds run, which are also recorded
    * in [[rounds]] under `name`. A loop whose state is exact (integers,
    * or doubles from exact sums) and whose round reads nothing but that
    * state stops at its fixed point with `done = _ == _`: once a round
    * leaves the state unchanged, every later round is the identity, so
    * the result is the one `maxRounds` rounds give.
    */
  def iterate[S](name: String, init: S, maxRounds: Int)(step: S => S)(
      done: (S, S) => Boolean): (S, Int) = {
    @tailrec def go(s: S, n: Int): (S, Int) =
      if (n == maxRounds) (s, n)
      else {
        val next = step(s)
        if (done(s, next)) (next, n + 1) else go(next, n + 1)
      }
    val (last, n) = go(init, 0)
    rounds(name) = n
    (last, n)
  }

  /** The fixpoint loop: from `init`, each round `step` builds and
    * checkpoints the next generation and returns it with the round's
    * metric; the loop stops at the first round where
    * `converged(previous metric, metric)` holds, taking `start` as the
    * metric of `init` (an `init` whose metric is 0 is already the
    * fixpoint). Each superseded generation is released as soon as the
    * next one is materialized. Raises once `maxRounds` rounds have not
    * converged, rather than return a result that is not the fixpoint.
    */
  def fixpoint(name: String, init: DataFrame, start: Long, maxRounds: Int)(
      step: DataFrame => (DataFrame, Long))(converged: (Long, Long) => Boolean): DataFrame = {
    // (generation, its metric, whether that round converged)
    val ((last, _, fixed), _) = iterate(name, (init, start, start == 0L),
        if (start == 0L) 0 else maxRounds) { case (cur, prev, _) =>
      val (next, m) = step(cur)
      release(cur)
      (next, m, converged(prev, m))
    }((_, next) => next._3)
    if (!fixed) {
      release(last)
      throw new IllegalStateException(
        s"$name did not converge within $maxRounds rounds (depth exceeds the backstop)")
    }
    last
  }

  /** Run `body`, then release `frames` on every exit, normal or thrown. */
  def releasing[T](frames: DataFrame*)(body: => T): T =
    try body finally frames.foreach(release)

  /** Free `df`'s blocks: a persisted frame leaves the cache, and the
    * blocks of a local checkpoint are dropped (`unpersist` alone leaves
    * those to the ContextCleaner). A checkpoint cannot be recomputed, so
    * release one only once nothing will read it again.
    */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD if r.rdd.isCheckpointed => r.rdd.unpersist(blocking = false); ()
    case _ => df.unpersist(false); ()
  }

  /** Run `body` with the call site of the jobs it starts set to `op` at
    * the first caller outside this object, so they read `localCheckpoint
    * at Graph.scala:141` (in the UI and in listener events) rather than
    * name this helper. A call site the caller already set is kept.
    */
  private def atCaller[T](df: DataFrame, op: String)(body: => T): T = {
    val sc = df.sparkSession.sparkContext
    val caller = Thread.currentThread.getStackTrace.find { f =>
      val c = f.getClassName
      c.startsWith("graft.") && !c.startsWith("graft.ops.Observe")
    }
    caller match {
      case Some(f) if sc.getLocalProperty("callSite.short") == null =>
        sc.setCallSite(s"$op at ${f.getFileName}:${f.getLineNumber}")
        try body finally sc.clearCallSite()
      case _ => body
    }
  }

  /** Standard data-quality bundle for a set of columns: row count plus
    * per-column null counts — the checks a load job should always ship.
    */
  def qualityMetrics(df: DataFrame, cols: Seq[String],
                     name: String = "quality"): (DataFrame, Observation) =
    observed(df, name,
      count(lit(1)).as("n_rows") +:
        cols.map(c => sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c")))

  /** Order-independent content checksum of `cols` — the migration /
    * replication audit primitive: two copies of a dataset produce the
    * SAME (n_rows, xor60, sum60) triple regardless of row order, file
    * layout, partition count, or engine, so "did the copy lose or
    * mangle rows" is one aggregate pass per side and a 3-value compare
    * (never a sorted row-by-row diff).
    *
    * Per row: columns canonicalize to strings (null → a \u0002 sentinel
    * so (null, "a") ≠ ("a", null) ≠ ("\u0002a")), join on \u0001, md5,
    * keep 60 bits. The triple combines XOR (order-free, catches value
    * changes; blind to duplicate-pair swaps) with a modular SUM and the
    * row count (which catch duplication/loss XOR misses). The sum
    * accumulates as exact DECIMAL(38,0) then emits `sum mod 2^62` as
    * BIGINT — still order-independent, and a lost/duplicated row shifts
    * the residue exactly as it shifts the full sum; the residue is what
    * hashes stably across engines (raw wide-decimal output columns do
    * not). One narrow map + one map-combined aggregate — no shuffle
    * beyond the 1-row final combine.
    *
    * Contract: `cols` must be integer/string/date-typed — float→string
    * rendering is engine-specific, so pre-quantize doubles (e.g.
    * `round(x·100)::long`, the q_corr convention).
    */
  def tableChecksum(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    val canon = concat_ws("\u0001",
      cols.map(c => coalesce(col(c).cast("string"), lit("\u0002"))): _*)
    val h = conv(substring(md5(canon.cast("binary")), 1, 15), 16, 10).cast("long")
    df.select(h.as("__h"))
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(__h)").as("xor60"),
        // __h ≥ 0 (60-bit), so the decimal sum is non-negative and % ≡ pmod
        (sum(col("__h").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          % lit(4611686018427387904L)).cast("long").as("sum60"))
  }
}
