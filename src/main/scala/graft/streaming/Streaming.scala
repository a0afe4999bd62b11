package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Event-time windowing helpers, usable identically on batch DataFrames and
  * Structured Streaming inputs (the expressions are the same logical plan
  * nodes; streaming adds watermark-driven state eviction).
  *
  * The reference library is batch-only (SURVEY §2.9) — this module is part
  * of the engine's forward surface: `readStream → transform → writeStream`
  * with these helpers in the transform seat. See StreamingSpec for the
  * MemoryStream-driven streaming execution of the same aggregations.
  *
  * Scale notes: windowed aggregations shuffle on (window, keys); watermarks
  * bound state size — always set one on unbounded streams. Sliding windows
  * multiply input by windows-per-event (duration/slide); prefer tumbling +
  * rollup downstream when the ratio is large.
  */
object Streaming {

  /** Tumbling event-time window aggregation. */
  def tumblingAgg(df: DataFrame, tsCol: String, duration: String,
                  keys: Seq[String], aggs: Seq[Column]): DataFrame =
    df.groupBy(window(col(tsCol), duration) +: keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Sliding event-time window aggregation (each event lands in
    * duration/slide windows).
    */
  def slidingAgg(df: DataFrame, tsCol: String, duration: String, slide: String,
                 keys: Seq[String], aggs: Seq[Column]): DataFrame =
    df.groupBy(window(col(tsCol), duration, slide) +: keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Gap-based session window aggregation (native session_window: windows
    * merge while consecutive events are closer than `gap`).
    */
  def sessionAgg(df: DataFrame, tsCol: String, gap: String,
                 keys: Seq[String], aggs: Seq[Column]): DataFrame =
    df.groupBy(session_window(col(tsCol), gap) +: keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Watermarked streaming variant: bounds aggregation state to windows
    * newer than max(event time) - delay. No-op semantics change on batch.
    */
  def watermarked(df: DataFrame, tsCol: String, delay: String): DataFrame =
    df.withWatermark(tsCol, delay)

  /** An event entering [[sessionizeStateful]]. `ts` must be the SAME
    * timestamp column the watermark was declared on — event-time timeout
    * resolves the watermark through this column's metadata, so it cannot
    * be pre-converted to a numeric.
    */
  case class SessionEvent(key: String, ts: java.sql.Timestamp, value: Double) {
    def tsMicros: Long = ts.getTime * 1000L + (ts.getNanos / 1000) % 1000
  }

  /** A closed session emitted by [[sessionizeStateful]]. */
  case class ClosedSession(key: String, startMicros: Long, endMicros: Long,
                           nEvents: Long, sumValue: Double)

  case class OpenSession(start: Long, lastTs: Long, n: Long, total: Double)

  /** Stateful streaming sessionization via `flatMapGroupsWithState`:
    * unlike `session_window` aggregation (which can only aggregate), the
    * open session lives in the state store, sessions CLOSE when the
    * event-time watermark passes lastEvent + gap (EventTimeTimeout), and
    * arbitrary per-session logic can run at close time. This is the
    * template for custom state machines — dedup-with-TTL, CDC upserts,
    * fraud windows.
    *
    * Input must carry a watermark (`watermarked(df, tsCol, delay)`)
    * before the typed conversion. State per key is O(1); the state store
    * shuffles once on the key.
    */
  def sessionizeStateful(events: Dataset[SessionEvent], gapMinutes: Int): Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes.toLong * 60 * 1000000
    // In batch execution timeouts never fire, so the trailing open session
    // per key must be flushed at end-of-group instead of parked in state.
    val isStreaming = events.isStreaming

    events.groupByKey(_.key)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: String, batch: Iterator[SessionEvent], state: GroupState[OpenSession]) =>
          if (batch.isEmpty && state.hasTimedOut) {
            // Watermark passed lastTs + gap: the open session is final.
            val s = state.get
            state.remove()
            Iterator.single(ClosedSession(key, s.start, s.lastTs, s.n, s.total))
          } else {
            val sorted = batch.toSeq.sortBy(_.tsMicros)
            var open = state.getOption
            val closed = Seq.newBuilder[ClosedSession]
            sorted.foreach { e =>
              open match {
                // Late-but-within-watermark events may arrive out of order
                // ACROSS batches: anything within gap of the open session's
                // [start, lastTs] span merges, and the span only ever
                // widens (min/max) — lastTs must never move backwards.
                case Some(s) if e.tsMicros >= s.start - gapUs && e.tsMicros <= s.lastTs + gapUs =>
                  open = Some(OpenSession(math.min(s.start, e.tsMicros),
                    math.max(s.lastTs, e.tsMicros), s.n + 1, s.total + e.value))
                case Some(s) if e.tsMicros > s.lastTs + gapUs =>
                  closed += ClosedSession(key, s.start, s.lastTs, s.n, s.total)
                  open = Some(OpenSession(e.tsMicros, e.tsMicros, 1, e.value))
                case Some(_) =>
                  // Orphan older than start - gap: it can never merge with
                  // the (newer) open session — emit as its own session.
                  closed += ClosedSession(key, e.tsMicros, e.tsMicros, 1, e.value)
                case None =>
                  open = Some(OpenSession(e.tsMicros, e.tsMicros, 1, e.value))
              }
            }
            if (isStreaming) {
              open.foreach { s =>
                state.update(s)
                state.setTimeoutTimestamp((s.lastTs + gapUs) / 1000) // millis
              }
            } else {
              open.foreach(s => closed += ClosedSession(key, s.start, s.lastTs, s.n, s.total))
            }
            closed.result().iterator
          }
      }
  }

  case class HoltState(lastTs: Long, level: Long, trend: Long, n: Long)

  /** A smoothed point emitted by [[holtStateful]]. */
  case class HoltPoint(key: String, tsMicros: Long, idx: Long, x: Double,
                       level: Double, trend: Double, forecast: Double)

  /** Streaming Holt double-exponential smoothing — the stateful twin of
    * [[graft.ops.Timeseries.holtLinear]]: per key, the level+trend
    * recursion advances event by event with the state store holding the
    * SAME integer-nano (level, trend) pair the batch fold carries, so a
    * stream fed in order emits EXACTLY the batch rows (the CUSUM
    * batch-twin law, applied to a two-component state). Rounding goes
    * through `java.math.BigDecimal.valueOf(...).setScale(0, HALF_UP)` —
    * bit-identical to Catalyst's `round` — which is what makes the
    * equality exact rather than approximate.
    *
    * Ordering contract: events sort within each micro-batch; an event
    * older than the state's lastTs (late ACROSS batches) is DROPPED —
    * a smoothing recursion cannot be rewound; feed a watermark-delayed
    * re-sort upstream if late data matters. State per key is O(1).
    */
  def holtStateful(events: Dataset[SessionEvent], alpha: Double,
                   beta: Double): Dataset[HoltPoint] = {
    def exactBinary(v: Double): Boolean = {
      val scaled = v * 256.0
      scaled == math.rint(scaled) && v > 0.0 && v < 1.0
    }
    require(exactBinary(alpha) && exactBinary(beta),
      s"alpha/beta must be exactly binary-representable in (0,1) (k/256): got $alpha, $beta")
    val spark = events.sparkSession
    import spark.implicits._
    def rnd(v: Double): Long =
      java.math.BigDecimal.valueOf(v).setScale(0, java.math.RoundingMode.HALF_UP).longValue
    events.groupByKey(_.key)
      .flatMapGroupsWithState[HoltState, HoltPoint](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, batch: Iterator[SessionEvent], state: GroupState[HoltState]) =>
          val sorted = batch.toSeq.sortBy(e => (e.tsMicros, e.value))
          var st = state.getOption.getOrElse(HoltState(Long.MinValue, 0L, 0L, 0L))
          val out = Seq.newBuilder[HoltPoint]
          sorted.foreach { e =>
            if (e.tsMicros >= st.lastTs) {
              val x = rnd(e.value * 1e9)
              val (l2, b2) =
                if (st.n == 0L) (x, 0L)
                else {
                  val l = st.level.toDouble; val b = st.trend.toDouble
                  val lNew = rnd(alpha * x + (1.0 - alpha) * (l + b))
                  val bNew = rnd(beta * (lNew.toDouble - l) + (1.0 - beta) * b)
                  (lNew, bNew)
                }
              st = HoltState(e.tsMicros, l2, b2, st.n + 1)
              out += HoltPoint(key, e.tsMicros, st.n, x.toDouble / 1e9,
                l2.toDouble / 1e9, b2.toDouble / 1e9, (l2 + b2).toDouble / 1e9)
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Streaming exact dedup — the ingest-side sibling of
    * [[graft.text.Dedup.dedupExact]]: drop rows repeating `keyCols`, with
    * the dedup state bounded by the event-time watermark
    * (`dropDuplicatesWithinWatermark`): a duplicate arriving within
    * `delay` of the first occurrence is dropped, and key state older
    * than the watermark is evicted — state is O(keys per watermark
    * window), not O(stream history), which is what makes exact dedup
    * viable on an unbounded 100 TB/day feed. Batch frames degrade to
    * plain `dropDuplicates` (same result set, no state machinery).
    */
  def dedupWithinWatermark(df: DataFrame, tsCol: String, delay: String,
                           keyCols: Seq[String]): DataFrame =
    if (df.isStreaming)
      df.withWatermark(tsCol, delay)
        .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)
    else df.dropDuplicates(keyCols)

  /** Custom-state example: per-key running counts kept in `GroupState`
    * across micro-batches (`mapGroupsWithState`). The state store shuffles
    * once on the key and persists per-partition — the pattern to extend
    * for custom sessionization, dedup-with-TTL, or CDC upserts.
    */
  def runningCounts(df: DataFrame, keyCol: String): Dataset[(String, Long)] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(keyCol).cast("string")).as[String]
      .groupByKey(identity)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (key: String, values: Iterator[String], state: GroupState[Long]) =>
          val newCount = state.getOption.getOrElse(0L) + values.size
          state.update(newCount)
          (key, newCount)
      }
  }

  /** Streaming per-key top-k values kept in `GroupState` — a live
    * leaderboard (max spenders per segment, hottest items per region)
    * whose state is O(k) per key BY CONSTRUCTION: each micro-batch
    * folds its values into the key's sorted top-k (value desc, then
    * the id asc for a deterministic tie survivor), so the state store
    * never holds more than k (value, id) pairs per key no matter how
    * long the stream runs. Emits the key's full current top-k each
    * time the key sees data (Update-mode shape).
    *
    * On a batch frame the same call degrades to the window/rank
    * spelling (one shuffle, `WindowGroupLimit`-bounded) — the batch
    * twin StreamingSpec checks the stream against.
    */
  def topKStateful(df: DataFrame, keyCol: String, idCol: String,
                   valueCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val spark = df.sparkSession
    import spark.implicits._
    if (!df.isStreaming) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(keyCol))
        .orderBy(col(valueCol).desc, col(idCol).asc)
      df.select(col(keyCol).cast("string"), col(idCol).cast("long"),
          col(valueCol).cast("double"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col(keyCol).as("key"), col("rank"),
          col(idCol).as("id"), col(valueCol).as("value"))
    } else {
      df.select(col(keyCol).cast("string").as("k"), col(idCol).cast("long").as("i"),
          col(valueCol).cast("double").as("v"))
        .as[(String, Long, Double)]
        .groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
          (key: String, batch: Iterator[(String, Long, Double)],
           state: GroupState[Seq[(Double, Long)]]) =>
            val merged = (state.getOption.getOrElse(Seq.empty) ++
              batch.map { case (_, id, v) => (v, id) })
              .sortBy { case (v, id) => (-v, id) }
              .take(k)
            state.update(merged)
            merged.zipWithIndex.iterator.map { case ((v, id), r) =>
              (key, r + 1, id, v)
            }
        }
        .toDF("key", "rank", "id", "value")
    }
  }

  /** Watermarked stream-stream interval join (attribution shape): left
    * events match right events with equal keys whose timestamp falls in
    * `[leftTs, leftTs + within]`. Both sides carry watermarks so the
    * join state is bounded — without them a stream-stream inner join
    * buffers both streams forever. State per key is O(events inside
    * watermark + within), evicted as event time advances. Works
    * identically on batch frames (the predicate is the same plan).
    */
  def eventTimeJoin(left: DataFrame, lTsCol: String,
                    right: DataFrame, rTsCol: String,
                    keys: Seq[(String, String)],
                    delay: String, within: String): DataFrame = {
    require(keys.nonEmpty, "need at least one key pair")
    // the right timestamp keeps its own (possibly renamed) column — it
    // carries information the left ts doesn't; a shared name is suffixed
    val rTsOut = if (rTsCol == lTsCol) s"${rTsCol}_r" else rTsCol
    val l = if (left.isStreaming) left.withWatermark(lTsCol, delay) else left
    val r0 = if (rTsOut == rTsCol) right else right.withColumnRenamed(rTsCol, rTsOut)
    // Suffix every OTHER right-side column that shares a name with a left
    // column (key columns excepted — the duplicate key copy is dropped
    // below). Both streams often derive from one source, so shared
    // payload names are the norm; leaving them duplicated would make the
    // output unusable by name (ambiguous selects, unwritable parquet).
    val rKeyNames = keys.map(_._2).toSet
    val leftNames = left.columns.toSet
    val r1 = r0.columns.foldLeft(r0) { (df, c) =>
      if (c != rTsOut && !rKeyNames(c) && leftNames(c)) {
        require(!df.columns.contains(s"${c}_r"),
          s"cannot disambiguate '$c': '${c}_r' already exists on the right side")
        df.withColumnRenamed(c, s"${c}_r")
      } else df
    }
    val r = if (r1.isStreaming) r1.withWatermark(rTsOut, delay) else r1
    // dataframe-qualified references: both sides usually share key names,
    // and bare col(...) would be ambiguous
    val keyPred = keys.map { case (lc, rc) => l(lc) === r(rc) }.reduce(_ && _)
    val joined = l.join(r, keyPred &&
      r(rTsOut) >= l(lTsCol) &&
      r(rTsOut) <= l(lTsCol) + expr(s"INTERVAL $within"))
    // same-named key columns would leave the output unusable by name
    // (ambiguous selects, unwritable parquet): keep the left copy
    keys.collect { case (lc, rc) if lc == rc => r(rc) }
      .foldLeft(joined)(_ drop _)
  }

  /** Streaming CDC ingest: fold each micro-batch into a versioned parquet
    * snapshot with [[graft.ops.Merge.upsert]] last-wins semantics. The
    * caller seeds `"$snapshotBase/v0"`; batch `i` reads `v{i}` and writes
    * `v{i+1}`, so a replayed batch (restart after a sink failure)
    * rewrites the SAME next version from the SAME previous version —
    * end-to-end idempotent without table-format transaction machinery.
    * Readers pin a version directory; old versions are retention-pruned
    * out-of-band.
    */
  def upsertSnapshotWriter(stream: DataFrame, snapshotBase: String,
                           keys: Seq[String], versionCol: String) =
    stream.writeStream.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
      val spark = batch.sparkSession
      // Guard the version chain: a retried batch legitimately rewrites
      // the CURRENT head (v{id+1} may exist, v{id+2} must not). If
      // v{id+2} exists, this batch id is from a reset checkpoint — a
      // blind write would re-base on a stale v{id} and silently fork the
      // chain, so fail loudly instead.
      val ahead = new org.apache.hadoop.fs.Path(s"$snapshotBase/v${id + 2}")
      val fs = ahead.getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(!fs.exists(ahead),
        s"snapshot chain is already at least ${id + 2} versions long but this " +
          s"batch id is $id — the streaming checkpoint was reset; refusing to " +
          s"fork the chain at $snapshotBase/v${id + 1}")
      val base = graft.sources.Sources.readParquet(spark, s"$snapshotBase/v$id")
      graft.ops.Merge.upsert(base, batch, keys, versionCol)
        .write.mode("overwrite").parquet(s"$snapshotBase/v${id + 1}")
    }

  /** An event entering [[funnelStateful]]: `tie` is the total-order
    * tiebreak (an event id) — (ts, tie) must be unique per key for
    * deterministic matching, exactly as the batch operator requires.
    */
  case class TypedEvent(key: String, ts: java.sql.Timestamp, tie: Long, eventType: String) {
    def tsMicros: Long = ts.getTime * 1000L + (ts.getNanos / 1000) % 1000
  }

  /** Funnel progress parked in the state store: furthest step plus the
    * (ts, tie) position of the event that matched it.
    */
  case class FunnelState(step: Int, mTs: Long, mTie: Long, lastTs: Long)

  /** A closed funnel emitted by [[funnelStateful]]. */
  case class FunnelClose(key: String, max_step: Int)

  /** Streaming funnel — the unbounded-stream sibling of
    * [[graft.ops.Funnel.maxStepReached]]: per key, advance through the
    * fixed `steps` sequence greedily in event-time order (step i+1
    * matches only strictly after the event that matched step i), park
    * the progress in the state store, and emit the furthest step when
    * the key goes quiet — state expires `stateTtlMinutes` past the
    * key's latest event time, which is when the funnel result is final
    * under the watermark contract. State is O(1) per key (a step index
    * and one position); the keyed state shuffles once.
    *
    * Each micro-batch is sorted by (ts, tie) before folding, so
    * within-batch disorder is handled exactly; ACROSS batches a
    * straggler predating the current match position cannot advance the
    * funnel (monotone-position guard). Results therefore equal the
    * batch operator's whenever out-of-orderness stays within a
    * micro-batch (or within the sort buffer of an ordered source); for
    * exact historical backfills, replay through the batch operator.
    *
    * Works on batch Datasets too (single "batch", flushed at
    * end-of-group — equal to [[graft.ops.Funnel.maxStepReached]] there).
    *
    * STREAMING CONTRACT: input must define a watermark (as with
    * [[anomaliesStateful]]); the timeout timestamp is clamped strictly
    * above the current watermark for late-only keys. Events with a NULL
    * timestamp are DROPPED (they have no event-time position, and one
    * malformed record must not kill the query); the batch operator
    * instead sorts them first — filter null ts upstream where that
    * distinction matters.
    */
  def funnelStateful(events: Dataset[TypedEvent], steps: Seq[String],
                     stateTtlMinutes: Int = 60): Dataset[FunnelClose] = {
    require(steps.nonEmpty, "need at least one funnel step")
    require(stateTtlMinutes > 0, "stateTtlMinutes must be positive")
    val spark = events.sparkSession
    import spark.implicits._
    val ttlUs = stateTtlMinutes.toLong * 60 * 1000000
    // evaluated on the driver: the closure must not capture the Dataset
    val isStreaming = events.isStreaming
    events.groupByKey(_.key)
      .flatMapGroupsWithState[FunnelState, FunnelClose](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: String, batch: Iterator[TypedEvent], state: GroupState[FunnelState]) =>
          if (batch.isEmpty && state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(FunnelClose(key, s.step))
          } else {
            var st = state.getOption.getOrElse(
              FunnelState(0, Long.MinValue, Long.MinValue, Long.MinValue))
            // null ts: no event-time position — drop, don't NPE (scaladoc)
            val sorted = batch.filter(_.ts != null).toSeq
              .sortBy(e => (e.tsMicros, e.tie))
            sorted.foreach { e =>
              val after = e.tsMicros > st.mTs ||
                (e.tsMicros == st.mTs && e.tie > st.mTie)
              if (st.step < steps.length && after && e.eventType == steps(st.step))
                st = FunnelState(st.step + 1, e.tsMicros, e.tie, st.lastTs)
              st = st.copy(lastTs = math.max(st.lastTs, e.tsMicros))
            }
            if (isStreaming) {
              state.update(st)
              // clamp strictly above the watermark (late-only keys)
              val wm = state.getCurrentWatermarkMs()
              state.setTimeoutTimestamp(math.max((st.lastTs + ttlUs) / 1000, wm + 1))
              Iterator.empty
            } else {
              // batch execution: timeouts never fire — flush the result now
              Iterator.single(FunnelClose(key, st.step))
            }
          }
      }
  }

  /** A flagged anomaly from [[anomaliesStateful]]. */
  case class Anomaly(key: String, tsMicros: Long, value: Double, zscore: Double)

  case class CusumAlarm(key: String, tsMicros: Long, value: Double,
                        s_plus: Double, s_minus: Double, direction: String)

  /** Per-key CUSUM walks in exact integer micros. */
  case class CusumState(sp: Long, sm: Long, lastTs: Long)

  /** A Page-Hinkley point from [[pageHinkleyStateful]]. */
  case class PhPoint(key: String, tsMicros: Long, idx: Long, value: Double,
                     ph: Double, ph_alarm: Boolean)

  /** Per-key Page-Hinkley state: exact running count/sum, the
    * nano-quantized walk, and its running minimum.
    */
  case class PhState(lastTs: Long, n: Long, sMicro: Long, mNano: Long,
                     minNano: Long)

  /** Streaming Page-Hinkley drift detector — the unbounded-stream twin
    * of [[graft.ops.Timeseries.pageHinkley]], carrying the SAME
    * integer state the batch windows compute: running (n, Σx) for the
    * per-event rounded running mean, the nano walk m, and its running
    * min. Fed in order, it emits EXACTLY the batch rows (the
    * [[holtStateful]] batch-twin law): every rounding goes through
    * `BigDecimal.valueOf(...).setScale(..., HALF_UP)` — bit-identical
    * to Catalyst's `round`.
    *
    * Ordering contract: events sort within each micro-batch; an event
    * older than the state's lastTs (late ACROSS batches) is DROPPED —
    * a running mean cannot be rewound. State per key is O(1): four
    * longs.
    */
  def pageHinkleyStateful(events: Dataset[SessionEvent], delta: Double,
                          lambda: Double): Dataset[PhPoint] = {
    require(lambda > 0.0 && delta >= 0.0, s"need lambda > 0, delta >= 0: $lambda/$delta")
    val spark = events.sparkSession
    import spark.implicits._
    def rnd(v: Double): Long =
      java.math.BigDecimal.valueOf(v).setScale(0, java.math.RoundingMode.HALF_UP).longValue
    def rnd6(v: Double): Double =
      java.math.BigDecimal.valueOf(v).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val deltaNano = math.round(delta * 1e9)
    events.groupByKey(_.key)
      .flatMapGroupsWithState[PhState, PhPoint](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, batch: Iterator[SessionEvent], state: GroupState[PhState]) =>
          val sorted = batch.toSeq.sortBy(e => (e.tsMicros, e.value))
          var st = state.getOption.getOrElse(
            PhState(Long.MinValue, 0L, 0L, 0L, Long.MaxValue))
          val out = Seq.newBuilder[PhPoint]
          sorted.foreach { e =>
            if (e.tsMicros >= st.lastTs) {
              val x = rnd(e.value * 1e6)
              val n = st.n + 1
              val s = st.sMicro + x
              val meanNano = rnd(s.toDouble * 1e3 / n.toDouble)
              val dev = x * 1000L - meanNano - deltaNano
              val m = st.mNano + dev
              val mn = math.min(st.minNano, m)
              val ph = rnd6((m - math.min(0L, mn)).toDouble / 1e9)
              st = PhState(e.tsMicros, n, s, m, mn)
              out += PhPoint(key, e.tsMicros, n, e.value, ph, ph > lambda)
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Streaming CUSUM mean-shift monitor — the unbounded-stream sibling
    * of [[graft.ops.Timeseries.cusum]] with a FIXED target mean (a
    * stream has no series mean to center on; production CUSUM runs
    * against a control target):
    *
    *   S⁺ += x − target − k ; S⁻ += target − x − k, both floored at 0,
    *
    * emitting an alarm row the moment either walk exceeds `h`, then
    * RESETTING both walks (restart-after-signal, the control-chart
    * convention — the batch operator keeps walking instead, so the two
    * agree exactly up to each key's first alarm). State is O(1) per key
    * — two integer micro walks — kept exact by the same quantization as
    * the batch twin, and expires `stateTtlMinutes` after the key's
    * latest event time.
    *
    * Events process in ARRIVAL order (the [[anomaliesStateful]]
    * contract): feed event-time-ordered input for strict semantics;
    * batch replays through the operator reproduce strict ordering.
    * Works on batch Datasets too (single "batch", no timeouts).
    *
    * STREAMING CONTRACT: input must define a watermark (EventTimeTimeout
    * — same clamp-above-watermark rule as [[anomaliesStateful]]).
    */
  def cusumStateful(events: Dataset[SessionEvent], target: Double,
                    k: Double, h: Double,
                    stateTtlMinutes: Int = 60): Dataset[CusumAlarm] = {
    require(k >= 0.0 && h > 0.0, s"need k >= 0 and h > 0: k=$k h=$h")
    require(stateTtlMinutes > 0, "stateTtlMinutes must be positive")
    val spark = events.sparkSession
    import spark.implicits._
    val ttlUs = stateTtlMinutes.toLong * 60 * 1000000
    val tM = math.round(target * 1e6)
    val kM = math.round(k * 1e6)
    val hM = math.round(h * 1e6)
    val isStreaming = events.isStreaming
    events.groupByKey(_.key)
      .flatMapGroupsWithState[CusumState, CusumAlarm](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: String, batch: Iterator[SessionEvent], state: GroupState[CusumState]) =>
          if (batch.isEmpty && state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var st = state.getOption.getOrElse(CusumState(0L, 0L, Long.MinValue))
            val out = Seq.newBuilder[CusumAlarm]
            var any = false
            batch.foreach { e =>
              any = true
              val x = math.round(e.value * 1e6)
              val sp = math.max(0L, st.sp + (x - tM - kM))
              val sm = math.max(0L, st.sm + (tM - x - kM))
              if (sp > hM || sm > hM) {
                out += CusumAlarm(key, e.tsMicros, e.value,
                  sp / 1e6, sm / 1e6, if (sp >= sm) "up" else "down")
                st = CusumState(0L, 0L, math.max(st.lastTs, e.tsMicros))
              } else {
                st = CusumState(sp, sm, math.max(st.lastTs, e.tsMicros))
              }
            }
            if (any) {
              state.update(st)
              if (isStreaming) {
                val wm = state.getCurrentWatermarkMs()
                state.setTimeoutTimestamp(math.max((st.lastTs + ttlUs) / 1000, wm + 1))
              }
            }
            out.result().iterator
          }
      }
  }

  /** Per-key rolling window for the streaming anomaly state machine:
    * the last `<= n` values with their exact running use count.
    */
  case class RollState(values: Vector[Double], lastTs: Long)

  /** Streaming rolling z-score anomalies — the unbounded-stream sibling
    * of [[graft.ops.Timeseries.flagAnomalies]]: per key, keep the last
    * `n` values in state, flag arrivals whose z against that trailing
    * baseline exceeds `z`. State is O(n) per key and expires
    * `stateTtlMinutes` after the key's latest event time (keys that go
    * quiet stop holding state — an unbounded key universe must not grow
    * the store forever); the keyed state shuffles once.
    *
    * Events process in ARRIVAL order with O(n) memory — the group is
    * never materialized or sorted (a hot key's batch can be arbitrarily
    * large), so feed event-time-ordered input for strict rolling
    * semantics; stragglers score against the state as-of arrival (batch
    * replays through the exact operator reproduce strict ordering).
    *
    * Works on batch Datasets too (same code path, single "batch";
    * timeouts never fire there, as with [[sessionizeStateful]]).
    *
    * STREAMING CONTRACT: the input must define a watermark
    * (`withWatermark` upstream of the groupByKey) — EventTimeTimeout
    * requires one, and Spark throws at runtime without it. The timeout
    * timestamp is clamped strictly above the current watermark: a key
    * fed only late data would otherwise compute `lastTs + ttl` at or
    * below the watermark, which `setTimeoutTimestamp` rejects.
    */
  def anomaliesStateful(events: Dataset[SessionEvent], n: Int, z: Double,
                        minPeriods: Int = 2, stateTtlMinutes: Int = 60): Dataset[Anomaly] = {
    require(n > 1 && minPeriods >= 2 && z > 0, "need n>1, minPeriods>=2, z>0")
    require(stateTtlMinutes > 0, "stateTtlMinutes must be positive")
    val spark = events.sparkSession
    import spark.implicits._
    val ttlUs = stateTtlMinutes.toLong * 60 * 1000000
    // evaluated on the driver: the closure must not capture the Dataset
    val isStreaming = events.isStreaming
    events.groupByKey(_.key)
      .flatMapGroupsWithState[RollState, Anomaly](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: String, batch: Iterator[SessionEvent], state: GroupState[RollState]) =>
          if (batch.isEmpty && state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var st = state.getOption.getOrElse(RollState(Vector.empty, Long.MinValue))
            val out = Seq.newBuilder[Anomaly]
            var any = false
            batch.foreach { e =>
              any = true
              val win = (st.values :+ e.value).takeRight(n)
              if (win.size >= minPeriods) {
                val mean = win.sum / win.size
                val variance = win.map(v => (v - mean) * (v - mean)).sum / win.size
                val std = math.sqrt(variance)
                if (std > 0) {
                  val zi = (e.value - mean) / std
                  if (math.abs(zi) > z)
                    out += Anomaly(key, e.tsMicros, e.value, zi)
                }
              }
              st = RollState(win, math.max(st.lastTs, e.tsMicros))
            }
            if (any) {
              state.update(st)
              if (isStreaming) {
                // clamp strictly above the watermark: late-only keys can
                // put lastTs+ttl at/below it, which setTimeoutTimestamp
                // rejects (see streaming contract in the scaladoc)
                val wm = state.getCurrentWatermarkMs()
                state.setTimeoutTimestamp(math.max((st.lastTs + ttlUs) / 1000, wm + 1))
              }
            }
            out.result().iterator
          }
      }
  }
}
