package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DataType, LongType, StructType}

/** Structured-Streaming surface of the engine (SURVEY §2.4 W1–W7).
  *
  * The reference's streaming model (continuous file monitor feeding
  * parallel readers, keyed state in managed memory/RocksDB, savepoints —
  * ExecutionEnviromentreadTextFile创建DataSource分析.md:3-9,363-371;
  * flink_arch.drawio page "Flink memory") maps to: FileStreamSource,
  * the state store behind windowed/stateful aggregations, and
  * checkpointLocation restart. Semantics deltas are documented in
  * SURVEY §7.4 (per-trigger emission, watermark drops, append-only
  * directories, checkpoint-not-savepoint).
  */
object Streams extends org.apache.spark.internal.Logging {

  /** W3 tumbling event-time window + W4 watermark. Late rows beyond
    * `watermark` are dropped (the declared contract; Flink would allow a
    * side output). Note: Spark watermarks require `timestamp` (ltz) —
    * cast `timestamp_ntz` columns first (identity under a UTC session). */
  def tumblingAgg(events: DataFrame, tsCol: String, watermark: String,
                  width: String, keyCols: Seq[String], aggs: Seq[Column]): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), width) +: keyCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)

  /** W3 sliding window. */
  def slidingAgg(events: DataFrame, tsCol: String, watermark: String,
                 width: String, slide: String, keyCols: Seq[String], aggs: Seq[Column]): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), width, slide) +: keyCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)

  /** W3 session window (gap-based). */
  def sessionAgg(events: DataFrame, tsCol: String, watermark: String,
                 gap: String, keyCols: Seq[String], aggs: Seq[Column]): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap).as("session") +: keyCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)

  /** W5 stream-stream inner join: equi-key + event-time range, both
    * sides watermarked (Spark needs the range bound to purge state). */
  def streamStreamJoin(left: DataFrame, right: DataFrame,
                       leftTs: String, rightTs: String,
                       leftWatermark: String, rightWatermark: String,
                       keyCond: Column, maxDelay: String): DataFrame = {
    val l = left.withWatermark(leftTs, leftWatermark)
    val r = right.withWatermark(rightTs, rightWatermark)
    l.join(r, keyCond
      && col(rightTs) >= col(leftTs)
      && col(rightTs) <= col(leftTs) + expr(s"INTERVAL $maxDelay"))
  }

  /** W5 stream-stream LEFT OUTER join: like [[streamStreamJoin]] but
    * unmatched left rows are emitted null-extended once the watermark
    * passes their join window (state for them can then be dropped —
    * outer results cannot be emitted eagerly because a match may still
    * arrive within the time bound). */
  def streamStreamJoinLeftOuter(left: DataFrame, right: DataFrame,
                                leftTs: String, rightTs: String,
                                leftWatermark: String, rightWatermark: String,
                                keyCond: Column, maxDelay: String): DataFrame = {
    val l = left.withWatermark(leftTs, leftWatermark)
    val r = right.withWatermark(rightTs, rightWatermark)
    l.join(r, keyCond
      && col(rightTs) >= col(leftTs)
      && col(rightTs) <= col(leftTs) + expr(s"INTERVAL $maxDelay"), "left_outer")
  }

  /** W3+W5 session-window stream-stream JOIN — the combination Spark
    * lacks natively (its stream-stream joins take only time-RANGE
    * conditions and its session windows only feed aggregations;
    * declared divergence SURVEY §7.4.3, closed here with the W6
    * machinery). Two keyed streams join when their rows fall into the
    * SAME gap-based event-time session: both sides are tagged and
    * unioned, grouped by the join key, and a flatMapGroupsWithState
    * buffers the open session's rows per side. A gap > `gapMs` between
    * consecutive events (either side) closes the session and emits its
    * inner-join pairs (L×R within the session); the last open session
    * closes via the event-time timer once the watermark passes
    * end+gap, exactly like [[sessionizeWithTimeout]].
    *
    * State per key is one open session's row buffers — the same
    * watermark-bounded retention Spark's own stream-stream join keeps,
    * organized per session instead of per time-range. Sessions with
    * rows on only one side emit nothing (inner semantics).
    *
    * Input: both sides (key long, event-time ts, value string) by
    * column name. Output: (k, session_start_ms, session_end_ms,
    * l_ts_ms, l_v, r_ts_ms, r_v), one row per joined pair. */
  def sessionWindowJoin(left: DataFrame, right: DataFrame,
                        keyCol: String, tsCol: String, valCol: String,
                        watermark: String, gapMs: Long): DataFrame = {
    val spark = left.sparkSession
    import spark.implicits._
    def side(df: DataFrame, isLeft: Boolean) =
      df.select(col(keyCol).cast("long").as("k"),
        col(tsCol).cast("timestamp").as("ts"),
        lit(isLeft).as("is_left"),
        col(valCol).cast("string").as("v"))
    // one open session: (start, end, leftRows, rightRows) — a tuple so
    // the state encoder is the stock product encoder (method-local case
    // classes don't reflect cleanly into ExpressionEncoders)
    type Sess = (Long, Long, List[(Long, String)], List[(Long, String)])
    def one(ms: Long, isLeft: Boolean, v: String): Sess =
      (ms, ms, if (isLeft) List((ms, v)) else Nil, if (isLeft) Nil else List((ms, v)))
    def pairs(k: Long, s: Sess): Iterator[(Long, Long, Long, Long, String, Long, String)] =
      for ((lt, lv) <- s._3.reverseIterator; (rt, rv) <- s._4.reverseIterator)
        yield (k, s._1, s._2, lt, lv, rt, rv)
    side(left, isLeft = true).unionByName(side(right, isLeft = false))
      .withWatermark("ts", watermark)
      .as[(Long, java.sql.Timestamp, Boolean, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[
          (Long, Long, List[(Long, String)], List[(Long, String)]),
          (Long, Long, Long, Long, String, Long, String)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (k: Long, it: Iterator[(Long, java.sql.Timestamp, Boolean, String)],
         state: GroupState[(Long, Long, List[(Long, String)], List[(Long, String)])]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            pairs(k, s)
          } else {
            val rows = it.map(t => (t._2.getTime, t._3, t._4)).toArray
            java.util.Arrays.sort(rows, java.util.Comparator.comparingLong(
              (t: (Long, Boolean, String)) => t._1))
            // Fold the sorted batch rows into their own session chain
            // first, then merge the OPEN session into the chain at its
            // chronological position. Folding rows straight into the
            // open state would glue cross-batch late events (admitted
            // by the watermark but far BEFORE the open session's
            // start) into it — ms - e0 is negative, so an end-only
            // check can't see the violated gap — and would also split
            // two late events that belong to one earlier session.
            val batchSess = scala.collection.mutable.ArrayBuffer.empty[Sess]
            rows.foreach { case (ms, isLeft, v) =>
              batchSess.lastOption match {
                case Some(s) if ms - s._2 <= gapMs =>
                  batchSess(batchSess.length - 1) =
                    (s._1, math.max(s._2, ms),
                      if (isLeft) (ms, v) :: s._3 else s._3,
                      if (isLeft) s._4 else (ms, v) :: s._4)
                case _ => batchSess += one(ms, isLeft, v)
              }
            }
            val chain = scala.collection.mutable.ArrayBuffer.empty[Sess]
            (state.getOption.toList ++ batchSess).sortBy(_._1).foreach { s =>
              chain.lastOption match {
                case Some(p) if s._1 - p._2 <= gapMs =>
                  chain(chain.length - 1) =
                    (p._1, math.max(p._2, s._2), s._3 ::: p._3, s._4 ::: p._4)
                case _ => chain += s
              }
            }
            // every chain session except the last is gap-closed (a
            // later event could only reach it through a gap > gapMs)
            chain.lastOption.foreach { s =>
              state.update(s)
              // clamp past the current watermark or Spark rejects a
              // timer at-or-before it (events can be older than wm-gap)
              state.setTimeoutTimestamp(
                math.max(s._2 + gapMs, state.getCurrentWatermarkMs() + 1))
            }
            chain.dropRight(1).iterator.flatMap(pairs(k, _))
          }
      }
      .toDF("k", "session_start_ms", "session_end_ms", "l_ts_ms", "l_v", "r_ts_ms", "r_v")
  }

  /** W6 with event-time timers: session assembly via
    * flatMapGroupsWithState + EventTimeTimeout — the
    * ProcessFunction-register-timer pattern (keyed state + timers on
    * the reference side). Per key the state holds the OPEN session
    * (count, start, end); arriving events are folded in event-time
    * order, and a gap > `gapMs` between consecutive events closes the
    * open session immediately (emitting its summary) and opens a new
    * one — so two sessions whose events land in the same batch still
    * come out as two rows. The last open session closes via the timer
    * re-armed at `end + gapMs` once the watermark passes it. Output
    * rows: (key, n_events, session_start_ms, session_end_ms). State is
    * bounded by open sessions, not stream length. Events later than
    * the open session's span merge into it (min/max); drop late rows
    * upstream via the watermark filter if strict gap semantics on
    * disordered input matter. */
  def sessionizeWithTimeout(events: DataFrame, tsCol: String, watermark: String,
                            keyCol: String, gapMs: Long): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col(keyCol).cast("long").as("k"), col(tsCol).cast("timestamp").as("ts"))
      .withWatermark("ts", watermark)
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long), (Long, Long, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (k: Long, it: Iterator[(Long, java.sql.Timestamp)], state: GroupState[(Long, Long, Long)]) =>
          if (state.hasTimedOut) {
            val (n, s0, e0) = state.get
            state.remove()
            Iterator.single((k, n, s0, e0))
          } else {
            val times = it.map(_._2.getTime).toArray
            java.util.Arrays.sort(times)
            val closed = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
            var open = state.getOption
            times.foreach { ms =>
              open = open match {
                case Some((n, s0, e0)) if ms - e0 <= gapMs =>
                  Some((n + 1, math.min(s0, ms), math.max(e0, ms)))
                case Some((n, s0, e0)) => // gap exceeded: close, start new
                  closed += ((k, n, s0, e0))
                  Some((1L, ms, ms))
                case None => Some((1L, ms, ms))
              }
            }
            open.foreach { case (_, _, e0) =>
              state.update(open.get)
              state.setTimeoutTimestamp(e0 + gapMs)
            }
            closed.iterator
          }
      }
      .toDF(keyCol, "n_events", "session_start_ms", "session_end_ms")
  }

  /** T5 exact semantics — per-record rolling reduce. Flink's keyed
    * `reduce` emits the running value for every input record; Structured
    * Streaming aggregations emit per trigger. This stateful op restores
    * the per-record contract: for each key it emits one row per input
    * element carrying the running reduction (W6 machinery). */
  private def rollingReduceFunc[K, T](reduce: (T, T) => T):
      (K, Iterator[T], GroupState[T]) => Iterator[(K, T)] =
    (k: K, it: Iterator[T], state: GroupState[T]) => {
      var acc = state.getOption
      val out = it.map { t =>
        acc = Some(acc.fold(t)(reduce(_, t)))
        (k, acc.get)
      }.toList
      acc.foreach(state.update)
      out.iterator
    }

  def rollingReduce[K: Encoder, T: Encoder](
      ds: Dataset[T], key: T => K, reduce: (T, T) => T)(
      implicit e: Encoder[(K, T)]): Dataset[(K, T)] =
    ds.groupByKey(key)
      .flatMapGroupsWithState[T, (K, T)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(rollingReduceFunc(reduce))

  /** [[rollingReduce]] bootstrapped from imported state — the IMPORT
    * half of the savepoint surface (reference `ACTION_SAVEPOINT` /
    * `setSavepointRestoreSettings`, …DataSource分析.md:363-371,387):
    * [[exportState]] dumps a query's keyed state to portable parquet,
    * [[importState]] decodes it, and this seeds a NEW query (fresh
    * checkpoint, possibly different partitioning/provider/topology)
    * with that state via flatMapGroupsWithState's initial-state
    * overload. Keys present in `initial` resume their reduction
    * mid-stream exactly as if the original query had never stopped;
    * checkpoint-restart remains the same-topology path. */
  def rollingReduceWithInitial[K: Encoder, T: Encoder](
      ds: Dataset[T], key: T => K, reduce: (T, T) => T,
      initial: Dataset[(K, T)])(
      implicit e: Encoder[(K, T)]): Dataset[(K, T)] =
    ds.groupByKey(key)
      .flatMapGroupsWithState[T, (K, T)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout(),
        initialState = initial.groupByKey(_._1).mapValues(_._2))(rollingReduceFunc(reduce))

  /** [[rollingReduce]] on Spark 4's transformWithState — the modern
    * arbitrary-state API (typed ValueState/ListState/MapState handles,
    * per-state TTL, explicit timers) that supersedes
    * flatMapGroupsWithState and maps onto the reference's richer
    * ProcessFunction state surface. Same per-record contract; pass
    * `initial` (e.g. from [[importState]]) to seed a fresh query with
    * exported state — the savepoint-import path on the new API.
    * Requires the RocksDB state store provider
    * ([[graft.Engine.useRocksDBStateStore]]); Spark rejects
    * transformWithState on the HDFS-backed provider. */
  def rollingReduceTws[K: Encoder, T: Encoder](
      ds: Dataset[T], key: T => K, reduce: (T, T) => T,
      initial: Option[Dataset[(K, T)]] = None)(
      implicit e: Encoder[(K, T)]): Dataset[(K, T)] = {
    import org.apache.spark.sql.streaming.{StatefulProcessorWithInitialState, TTLConfig, TimeMode, TimerValues, ValueState}
    val tEnc = implicitly[Encoder[T]]
    val proc = new StatefulProcessorWithInitialState[K, T, (K, T), T] {
      @transient private var acc: ValueState[T] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        acc = getHandle.getValueState[T]("acc", tEnc, TTLConfig.NONE)
      override def handleInitialState(k: K, s: T, tv: TimerValues): Unit =
        acc.update(s)
      override def handleInputRows(k: K, rows: Iterator[T], tv: TimerValues): Iterator[(K, T)] = {
        var cur = if (acc.exists()) Some(acc.get()) else None
        val out = rows.map { t =>
          cur = Some(cur.fold(t)(reduce(_, t)))
          (k, cur.get)
        }.toList
        cur.foreach(acc.update)
        out.iterator
      }
    }
    val grouped = ds.groupByKey(key)
    initial match {
      case Some(init) =>
        grouped.transformWithState(proc, TimeMode.None(), OutputMode.Append(),
          init.groupByKey(_._1).mapValues(_._2), implicitly[Encoder[(K, T)]], tEnc)
      case None =>
        grouped.transformWithState(proc, TimeMode.None(), OutputMode.Append(),
          implicitly[Encoder[(K, T)]])
    }
  }

  /** W3/W7 tumbling-window count+sum aggregate REBUILT on
    * transformWithState with event-time timers — exists for one
    * reason: built-in `groupBy(window(...)).agg(...)` has no
    * initial-state overload, so an exported windowed-agg state (the
    * last savepoint-import residual, SURVEY §7.4.5) could not seed a
    * fresh query. This TWS twin accepts `initial` (the built-in
    * query's [[exportState]] parquet decoded via [[importState]]:
    * key = (key, window-start ms), state = (count, sum)) and
    * finalizes windows identically to the built-in aggregate in
    * append mode: per-(key, window) state accumulates, an event-time
    * timer at window end emits the finalized row and clears state,
    * and rows for windows the watermark has already closed are
    * dropped (the W4 contract).
    *
    * Scale shape: identical to the built-in operator — state is
    * hash-partitioned by (key, window start), O(open windows)
    * entries, each touched once per input row and once at
    * finalization; no shuffle beyond the keyed exchange. Requires the
    * RocksDB provider (transformWithState's own requirement), which
    * is the 100 TB keyed-state backend anyway.
    *
    * Input: (key, event-time timestamp, value); the watermark is
    * applied here on the timestamp field. Output:
    * (key, window_start_ms, cnt, sum). */
  def tumblingAggTws[K: Encoder](
      ds: Dataset[(K, java.sql.Timestamp, Double)],
      watermark: String, widthMs: Long,
      initial: Option[Dataset[((K, Long), (Long, Double))]] = None)(
      implicit kw: Encoder[(K, Long)], st: Encoder[(Long, Double)],
      out: Encoder[(K, Long, Long, Double)]): Dataset[(K, Long, Long, Double)] = {
    require(widthMs > 0, "tumblingAggTws: widthMs must be positive")
    val keyed = ds.withWatermark("_2", watermark)
      .groupByKey(r => (r._1, Math.floorDiv(r._2.getTime, widthMs) * widthMs))
    windowedCountSumTws[K, (K, java.sql.Timestamp, Double)](
      keyed, _._3, widthMs, initial)
  }

  /** Sliding-window twin of [[tumblingAggTws]] — the other built-in
    * windowed aggregation without an initial-state overload. Each row
    * is assigned to every window covering it (width/slide windows, the
    * same expansion `groupBy(window(ts, w, s))` performs internally),
    * then the shared per-(key, window-start) count+sum processor
    * finalizes each window by event-time timer. State exported from a
    * built-in sliding agg decodes with [[importWindowedCountSum]]
    * unchanged (identical layout: key = (window struct, key), value =
    * the (count, sum) buffer) and seeds this twin — W7e spec proves
    * the continuation matches an uninterrupted run.
    *
    * Scale shape: input amplification is width/slide (a constant the
    * user chose), after which cost is identical to the tumbling twin —
    * state is O(open windows × keys), hash-partitioned, each entry
    * touched per covering row and once at finalization. */
  def slidingAggTws[K: Encoder](
      ds: Dataset[(K, java.sql.Timestamp, Double)],
      watermark: String, widthMs: Long, slideMs: Long,
      initial: Option[Dataset[((K, Long), (Long, Double))]] = None)(
      implicit kw: Encoder[(K, Long)], st: Encoder[(Long, Double)],
      rw: Encoder[(K, java.sql.Timestamp, Double, Long)],
      out: Encoder[(K, Long, Long, Double)]): Dataset[(K, Long, Long, Double)] = {
    require(widthMs > 0 && slideMs > 0 && slideMs <= widthMs,
      "slidingAggTws: need 0 < slideMs <= widthMs")
    val spark = ds.sparkSession
    import spark.implicits._
    // assign covering windows DECLARATIVELY (explode keeps the
    // watermark tag on ts; a typed flatMap would drop it): window
    // starts s = i·slide with t − width < s <= t
    val t = unix_millis(col("_2"))
    val exploded = ds.withWatermark("_2", watermark)
      .withColumn("__wi", explode(sequence(
        floor((t - lit(widthMs)).cast("double") / slideMs).cast("long") + 1,
        floor(t.cast("double") / slideMs).cast("long"))))
      .select(col("_1"), col("_2"), col("_3"), (col("__wi") * slideMs).as("__ws"))
      .as[(K, java.sql.Timestamp, Double, Long)]
    val keyed = exploded.groupByKey(r => (r._1, r._4))
    windowedCountSumTws[K, (K, java.sql.Timestamp, Double, Long)](
      keyed, _._3, widthMs, initial)
  }

  /** Shared (count, sum) windowed-aggregate processor on
    * transformWithState behind [[tumblingAggTws]]/[[slidingAggTws]]:
    * per-(key, window-start) ValueState accumulates, the event-time
    * timer at window end emits the finalized row (append-mode parity
    * with the built-in aggregates), rows for watermark-closed windows
    * are dropped (the W4 contract), and `initial` seeds imported
    * state ([[importWindowedCountSum]]). */
  private def windowedCountSumTws[K, R](
      keyed: org.apache.spark.sql.KeyValueGroupedDataset[(K, Long), R],
      value: R => Double, widthMs: Long,
      initial: Option[Dataset[((K, Long), (Long, Double))]])(
      implicit kw: Encoder[(K, Long)], st: Encoder[(Long, Double)],
      out: Encoder[(K, Long, Long, Double)]): Dataset[(K, Long, Long, Double)] = {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, StatefulProcessorWithInitialState, TTLConfig, TimeMode, TimerValues, ValueState}
    val proc = new StatefulProcessorWithInitialState[
        (K, Long), R, (K, Long, Long, Double), (Long, Double)] {
      @transient private var acc: ValueState[(Long, Double)] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        acc = getHandle.getValueState[(Long, Double)]("acc", st, TTLConfig.NONE)
      override def handleInitialState(k: (K, Long), s: (Long, Double),
                                      tv: TimerValues): Unit = {
        acc.update(s)
        getHandle.registerTimer(k._2 + widthMs)
      }
      override def handleInputRows(k: (K, Long), rows: Iterator[R],
                                   tv: TimerValues): Iterator[(K, Long, Long, Double)] = {
        val end = k._2 + widthMs
        // late-data contract: the built-in aggregate evicts a window's
        // state once the watermark passes its end — rows arriving after
        // that are dropped, never resurrected as a fresh partial
        if (end <= tv.getCurrentWatermarkInMs()) Iterator.empty
        else {
          var (c, s) = if (acc.exists()) acc.get() else (0L, 0.0)
          rows.foreach { r => c += 1; s += value(r) }
          acc.update((c, s))
          // same expiry per (key, window) every time — re-registration
          // of an existing timer is a no-op, so this is idempotent
          getHandle.registerTimer(end)
          Iterator.empty
        }
      }
      override def handleExpiredTimer(k: (K, Long), tv: TimerValues,
                                      info: ExpiredTimerInfo): Iterator[(K, Long, Long, Double)] = {
        val res =
          if (acc.exists()) { val (c, s) = acc.get(); Iterator.single((k._1, k._2, c, s)) }
          else Iterator.empty
        acc.clear()
        res
      }
    }
    initial match {
      case Some(init) =>
        keyed.transformWithState(proc, TimeMode.EventTime(), OutputMode.Append(),
          init.groupByKey(_._1).mapValues(_._2), out, st)
      case None =>
        keyed.transformWithState(proc, TimeMode.EventTime(), OutputMode.Append(), out)
    }
  }

  /** SESSION-window count+sum aggregate on transformWithState — the
    * final savepoint-import residual (SURVEY §7.4.5), closed the same
    * way the tumbling/sliding aggregates were in round 4: built-in
    * `groupBy(session_window(ts, gap), key).agg(count, sum)` has no
    * initial-state overload, so its exported state could not seed a
    * fresh query — and unlike those, its state layout was ASSUMED
    * provider-internal. It is not: the state source reads it as
    * key = (key, sessionStartTime), value = (session_window struct,
    * key, count, sum), sessions already merged
    * ([[importSessionCountSum]] owns the decode). This twin accepts
    * that state and finalizes sessions identically to the built-in
    * aggregate in append mode.
    *
    * Semantics (built-in parity): a row at t opens a candidate session
    * [t, t+gap); sessions whose intervals overlap merge (end exclusive
    * — an event exactly at a session's end starts a NEW session);
    * per-key state holds the OPEN sessions; an event-time timer emits
    * (key, start, end, cnt, sum) once the watermark passes the
    * session's end and clears that session; a row drops as late only
    * when its WHOLE candidate session ends at or before the watermark
    * (`t + gap <= wm` — the built-in's session-end filter, pinned
    * empirically by `tools.SessionLateProbe`; a raw `t < wm` filter
    * would wrongly drop boundary rows the built-in keeps).
    * transformWithState pre-filters input by the raw watermarked
    * column, so the twin widens its INTERNAL watermark delay by `gap`
    * (internal wm = true wm − gap: Spark's own filter then implements
    * exactly the session-end rule) and shifts every timer by −gap so
    * emission timing is unchanged — callers still reason in true-
    * watermark terms. Stale timers (a session
    * extended past its old end) no-op: emission is guarded by
    * `end <= watermark`, and every merge re-registers the new end.
    *
    * Scale shape: identical to the built-in operator — state is
    * hash-partitioned by key, O(open sessions) entries; per-batch each
    * touched key replays its (small: open-sessions) list once.
    * RocksDB provider required (transformWithState's own requirement). */
  def sessionAggTws[K: Encoder](
      ds: Dataset[(K, java.sql.Timestamp, Double)],
      watermark: String, gapMs: Long,
      initial: Option[Dataset[(K, List[(Long, Long, Long, Double)])]] = None)(
      implicit st: Encoder[List[(Long, Long, Long, Double)]],
      out: Encoder[(K, Long, Long, Long, Double)]): Dataset[(K, Long, Long, Long, Double)] = {
    require(gapMs > 0, "sessionAggTws: gapMs must be positive")
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, StatefulProcessorWithInitialState, TTLConfig, TimeMode, TimerValues, ValueState}
    type Sess = (Long, Long, Long, Double) // start, end(exclusive), cnt, sum
    val proc = new StatefulProcessorWithInitialState[
        K, (K, java.sql.Timestamp, Double), (K, Long, Long, Long, Double), List[Sess]] {
      @transient private var open: ValueState[List[Sess]] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        open = getHandle.getValueState[List[Sess]]("open", st, TTLConfig.NONE)
      // internal wm = true wm − gap (the widened watermark delay), so:
      //  session closed        ⇔ end <= true wm ⇔ end − gap <= wm
      //  candidate still open  ⇔ end > true wm  ⇔ end − gap > wm
      // and every timer registers at (end − gap)
      override def handleInitialState(k: K, s: List[Sess], tv: TimerValues): Unit = {
        open.update(s)
        s.foreach(sess => getHandle.registerTimer(sess._2 - gapMs))
      }
      override def handleInputRows(k: K, rows: Iterator[(K, java.sql.Timestamp, Double)],
                                   tv: TimerValues): Iterator[(K, Long, Long, Long, Double)] = {
        val wm = tv.getCurrentWatermarkInMs()
        // late filter on the CANDIDATE SESSION END, not the raw
        // timestamp (tools.SessionLateProbe pins the built-in's rule):
        // Spark's own pre-filter on the widened watermark already
        // drops t < true wm − gap; this guards the exact-equality
        // boundary (end == true wm closes the candidate)
        val fresh = rows.map(r => (r._2.getTime, r._2.getTime + gapMs, 1L, r._3))
          .filter(_._2 - gapMs > wm)
          .toList
        if (fresh.nonEmpty) {
          val existing = if (open.exists()) open.get() else Nil
          // interval merge over (existing ∪ fresh), end-exclusive:
          // touching-at-end does NOT merge (next.start < cur.end does)
          val sorted = (existing ++ fresh).sortBy(s => (s._1, s._2))
          val merged = sorted.tail.foldLeft(List(sorted.head)) { (acc, s) =>
            val cur = acc.head
            if (s._1 < cur._2)
              (math.min(cur._1, s._1), math.max(cur._2, s._2),
                cur._3 + s._3, cur._4 + s._4) :: acc.tail
            else s :: acc
          }.reverse
          open.update(merged)
          merged.foreach(sess => getHandle.registerTimer(sess._2 - gapMs))
        }
        Iterator.empty
      }
      override def handleExpiredTimer(k: K, tv: TimerValues,
                                      info: ExpiredTimerInfo): Iterator[(K, Long, Long, Long, Double)] = {
        val wm = tv.getCurrentWatermarkInMs()
        val sessions = if (open.exists()) open.get() else Nil
        val (closed, still) = sessions.partition(_._2 - gapMs <= wm)
        if (still.isEmpty) open.clear() else open.update(still)
        closed.iterator.map(s => (k, s._1, s._2, s._3, s._4))
      }
    }
    // widen the internal watermark delay by gap: transformWithState
    // drops input rows behind ITS watermark, and with delay+gap that
    // pre-filter implements exactly the built-in's session-end rule
    val delayMs = {
      val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
        org.apache.spark.unsafe.types.UTF8String.fromString(watermark))
      require(iv.months == 0, "sessionAggTws: watermark delay must not use months")
      iv.days * 86400000L + iv.microseconds / 1000L
    }
    val keyed = ds.withWatermark("_2", s"${delayMs + gapMs} milliseconds")
      .groupByKey(_._1)
    initial match {
      case Some(init) =>
        keyed.transformWithState(proc, TimeMode.EventTime(), OutputMode.Append(),
          init.groupByKey(_._1).mapValues(_._2), out, st)
      case None =>
        keyed.transformWithState(proc, TimeMode.EventTime(), OutputMode.Append(), out)
    }
  }

  /** Streaming NEAR-dup candidates (E1 on a stream): each document is
    * MinHash-signed and banded (same family as the batch
    * [[graft.ops.Dedup]] pipeline); the stream is keyed by
    * (band, bucketHash) and per-bucket state holds the docs seen, so a
    * document pairs with near-duplicates from EARLIER microbatches —
    * cross-batch recall the per-batch `dropDuplicates` shape can't
    * give. Candidates (id_a < id_b) may repeat across bands; callers
    * dedupe downstream (the batch pipeline's `distinct`). State is
    * bounded two ways: `maxPerBucket` docs per bucket (FIFO eviction —
    * newest docs pair against the most recent history, the dedup-
    * against-recent-corpus contract), and — when `tsCol` is given —
    * cold buckets expire wholesale via an event-time timer
    * `bucketTtlMs` after their newest doc (the
    * [[sessionizeWithTimeout]] timer pattern), so bucket cardinality
    * tracks the active horizon, not the stream's lifetime.
    *
    * Input: (doc_id long, text string[, event-time ts]).
    * Output: (id_a, id_b). */
  def nearDupCandidates(docs: DataFrame, idCol: String, textCol: String,
                        maxPerBucket: Int = 64,
                        tsCol: Option[String] = None,
                        watermark: String = "10 minutes",
                        bucketTtlMs: Long = 1800000L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import graft.ops.{Dedup, TextAnalysis}
    val r = Dedup.K / Dedup.Bands
    def bandsOf(id: Long, text: String): Iterator[(Long, Int, Long)] = {
      val hs = TextAnalysis.shingleHashes3Typed(text)
      if (hs.isEmpty) Iterator.empty
      else {
        val sig = Dedup.sigOf(hs)
        (0 until Dedup.Bands).iterator.map { b =>
          val slice = (0 until r).map(j => sig(b * r + j))
          (id, b, scala.util.hashing.MurmurHash3.orderedHash(slice, b).toLong)
        }
      }
    }
    // shared per-bucket pairing step; returns the new seen-list
    def emitPairs(seen0: List[Long], rows: Iterator[org.apache.spark.sql.Row],
                  out: scala.collection.mutable.ArrayBuffer[(Long, Long)]): List[Long] = {
      var seen = seen0
      rows.foreach { row =>
        val id = row.getLong(0)
        if (!seen.contains(id)) {
          seen.foreach { other =>
            if (other != id)
              out += ((math.min(id, other), math.max(id, other)))
          }
          seen = (id :: seen).take(maxPerBucket)
        }
      }
      seen
    }
    tsCol match {
      case None =>
        docs.select(col(idCol).cast("long"), col(textCol).cast("string"))
          .as[(Long, String)]
          .flatMap { case (id, text) => bandsOf(id, text) }
          .toDF(idCol, "band", "bh")
          .groupByKey(row => (row.getInt(1), row.getLong(2)))
          .flatMapGroupsWithState[List[Long], (Long, Long)](
            OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
            (_, rows: Iterator[org.apache.spark.sql.Row], state: GroupState[List[Long]]) =>
              val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
              state.update(emitPairs(state.getOption.getOrElse(Nil), rows, out))
              out.iterator
          }
          .toDF("id_a", "id_b")
      case Some(ts) =>
        docs
          .select(col(idCol).cast("long"), col(textCol).cast("string"),
            col(ts).cast("timestamp").as("__ts"))
          .as[(Long, String, java.sql.Timestamp)]
          .flatMap { case (id, text, t) => bandsOf(id, text).map(x => (x._1, x._2, x._3, t)) }
          .toDF(idCol, "band", "bh", "__ts")
          .withWatermark("__ts", watermark)
          .groupByKey(row => (row.getInt(1), row.getLong(2)))
          .flatMapGroupsWithState[List[Long], (Long, Long)](
            OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
            (_, rows: Iterator[org.apache.spark.sql.Row], state: GroupState[List[Long]]) =>
              if (state.hasTimedOut) {
                state.remove() // cold bucket: drop the whole seen-list
                Iterator.empty
              } else {
                val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
                var maxTs = Long.MinValue
                val buffered = rows.map { r => maxTs = math.max(maxTs, r.getTimestamp(3).getTime); r }
                state.update(emitPairs(state.getOption.getOrElse(Nil), buffered, out))
                // re-arm: expire bucketTtlMs after the newest doc (never
                // behind the watermark, which would be rejected)
                state.setTimeoutTimestamp(
                  math.max(maxTs + bucketTtlMs, state.getCurrentWatermarkMs() + 1))
                out.iterator
              }
          }
          .toDF("id_a", "id_b")
    }
  }

  /** Streaming exact dedup by key within the watermark horizon (the
    * stream-side of E1/Q10): state for a key is dropped once the
    * watermark passes its event time, so state stays bounded. */
  def dedupStream(events: DataFrame, tsCol: String, watermark: String,
                  keyCols: Seq[String]): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Stream–static dimension enrichment with per-trigger dim refresh:
    * each microbatch joins the dimension AS OF ITS OWN TRIGGER — the
    * Flink "temporal table join against the latest version" shape on
    * the microbatch boundary. The dim THUNK (e.g.
    * `() => spark.read.parquet(dimPath)`) is re-invoked inside every
    * batch, deliberately: a static DataFrame built once captures its
    * file listing in the FileIndex at read time, so a plain
    * stream-static join would keep serving the listing from query
    * start; re-invoking the thunk re-lists, which is what makes a
    * slowly-changing-dimension rewrite visible without a query restart.
    *
    * `broadcastDim` (default) keeps the per-batch join shuffle-free —
    * the right shape for any dimension that fits an executor; a huge
    * dim would flip this off and pre-bucket both sides instead. */
  def enrichWithDim(stream: DataFrame, dim: () => DataFrame, joinCols: Seq[String],
                    checkpoint: String, broadcastDim: Boolean = true)(
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    toForeachBatchSink(stream, checkpoint) { (batch, id) =>
      val d = if (broadcastDim) broadcast(dim()) else dim()
      sink(batch.join(d, joinCols), id)
    }

  /** S6 streaming sinks. */
  def toMemorySink(df: DataFrame, name: String, mode: OutputMode): StreamingQuery =
    df.writeStream.format("memory").queryName(name).outputMode(mode).start()

  /** S6 custom sink: per-microbatch callback (the upsert/merge pattern —
    * each trigger hands the batch DataFrame + id to user code; exactly-
    * once requires the callback to be idempotent on batchId, which is
    * the same contract Flink's two-phase sinks place on the committer). */
  def toForeachBatchSink(df: DataFrame, checkpoint: String)(
      fn: (DataFrame, Long) => Unit): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(fn)
      .start()

  /** [[upsertSink]] on the batch-dir MERGE-ON-READ layout — the
    * row-level twin of the agg-partials move: upsertSink rewrites the
    * WHOLE keyed table at `v=<batchId>` every trigger (per-batch write
    * cost O(|all rows|) — fine for a dimension, a scale-killer for a
    * 100 TB keyed fact), while this sink writes each microbatch's
    * changes ONCE under `rows/batch=<id>/` — reduced to the latest
    * change per key within the batch, TOMBSTONES INCLUDED (a delete
    * must mask older layers at read time) — so per-batch write cost is
    * O(|touched keys|) whatever the table has grown to. Read-side
    * resolution is latest-wins by `(batch, seqCol)` descending with
    * tombstones dropped ([[latestTable]]) — bit-identical to replaying
    * the same changes through [[upsertSink]] (a later BATCH wins over
    * a higher earlier seq, within a batch the highest seq wins —
    * exactly [[graft.ops.Cdc.mergeUpsert]]'s application order;
    * spec-pinned). Same lifecycle as every maintained artifact here:
    * `v=<id>/_SUCCESS` + `_files` manifest + `_freshness`,
    * [[compactTable]] folds layers into a live-rows-only generation
    * (tombstones VANISH there — a generation is the complete state
    * `<= version`, nothing older survives to resurrect), `compactEvery`
    * enables the in-line geometric trigger, [[maintainArtifact]] runs
    * the scheduled half, [[tableDelete]] scrubs forgotten keys,
    * `latestTable(asOf = …)` time-travels. The `_merge` marker makes
    * the target self-describing; a sink restarted with different
    * key/seq/delete configuration fails loudly at its first trigger.
    * Ties on `seqCol` within one (key, batch) resolve arbitrarily —
    * the same non-contract mergeUpsert has; give changes a total
    * per-key order.
    *
    * SCHEMA EVOLUTION: adding nullable columns is supported — layers
    * keep the schema they were written with, and each version records
    * its read schema at commit (`v=<id>/_schema`: the predecessor's
    * record plus the columns this batch adds, appended in commit
    * order, [[evolveTableSchema]]), so reads plan from that record and
    * surface the new columns as null on old rows (compaction folds the
    * widened shape forward). Dropping or renaming a key/seq/delete
    * column fails the stream loudly; adding a nested struct field
    * widens its column the same way, but changing an existing column's
    * TYPE otherwise is refused at commit, before the batch's layer
    * lands, naming the column and both types — also loud, never a
    * silent reinterpretation. With `changelog = true` a batch
    * that DROPS any data column the table's history carries also fails
    * loudly: retraction rows would surface null for it while earlier
    * +1 rows carried real values, silently breaking ±op telescoping.
    *
    * `changelogKeyPushdown`: when a batch touches at most this many
    * distinct keys, the changelog's pre-image read builds an IN-list
    * predicate from them so the layer scan prunes at the parquet
    * row-group level (the compacted generation is key-range-clustered)
    * — per-trigger read I/O tracks |touched keys|, not |table|. Above
    * the bound (or at 0) it falls back to the un-pruned key semi-join,
    * which is exact but scans every resolved layer.
    *
    * `compactMaxTail`: caps the raw batch-dir TAIL the geometric
    * trigger may accumulate. Pure geometric compaction lets the tail
    * grow to |covered| before folding — write-amplification-optimal
    * (O(N log B) lifetime rewrite bytes), but every read (the
    * changelog pre-image included) plans and opens one file per tail
    * dir, so per-trigger latency creeps linearly within an interval
    * (MergeLifecycleProbe: med trigger 0.9s→1.6s as the tail grew
    * 345→645 dirs). A cap bounds that read-side cost at the price of
    * more frequent folds (lifetime rewrite bytes O(N·B/maxTail));
    * 0 = uncapped, the pure geometric schedule; -1 (the default) =
    * DERIVED: `8 × compactEvery` — the probe showed the uncapped creep
    * costs 2× per-trigger time and point reads at 10³ batches, so
    * bounded-by-default is the right long-run posture and 8 intervals
    * keeps fold frequency within a constant factor of pure geometric.
    * Shared by all six maintained sinks ([[resolvedMaxTail]]). */
  def mergeSink(changes: DataFrame, targetDir: String, checkpoint: String,
                keyCols: Seq[String], seqCol: String, deleteCol: String,
                retainVersions: Int = 3, filesPerBatch: Int = 1,
                compactEvery: Int = 0, compactFiles: Int = 4,
                changelog: Boolean = false,
                changelogKeyPushdown: Int = 1024,
                compactMaxTail: Int = -1): StreamingQuery = {
    import org.apache.spark.sql.functions.{col, row_number}
    require(keyCols.nonEmpty, "Streams.mergeSink: empty key")
    val maxTail = resolvedMaxTail("Streams.mergeSink", compactMaxTail,
      compactEvery)
    require(retainVersions >= 2,
      "Streams.mergeSink: must retain >= 2 versions (in-flight readers " +
        "may hold the predecessor)")
    require(filesPerBatch > 0, "Streams.mergeSink: filesPerBatch must be positive")
    require(!changes.columns.contains("batch"),
      "Streams.mergeSink: 'batch' is the layout's own partition column — " +
        "rename that change column (reads would die on a data/partition " +
        "schema collision after the commits succeeded)")
    val streamingLeaves = changes.queryExecution.logical.collectLeaves()
      .count(_.isStreaming)
    if (streamingLeaves != 1)
      logWarning(s"Streams.mergeSink: plan has $streamingLeaves streaming " +
        "sources — no _files manifest will be written, so freshnessLagOf " +
        "cannot count pending files for this target")
    val layout = MergeLayout(keyCols, seqCol, deleteCol)
    if (changelog)
      require(!changes.columns.contains("op"),
        "Streams.mergeSink: the changelog emits an 'op' column — rename " +
          "the change stream's own 'op' column to enable it")
    toVersionedSink(changes, checkpoint, targetDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      unresolveReplayedVersion(spark, targetDir, batchId)
      writeMergeLayout(spark, targetDir, layout)
      // the batch's own latest-per-key slice, nothing else read or
      // rewritten (a replayed batch overwrites only its own
      // subdirectory — the slice is a pure function of the batch)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keyCols.map(col): _*).orderBy(col(seqCol).desc)
      val reduced = batch.withColumn("__rk", row_number().over(w))
        .filter(col("__rk") === 1).drop("__rk")
      // a type change is refused here, before anything lands; the sink
      // owns its table's ids (external writes refuse a `_query` target),
      // so no write below this batch can still be in flight
      val base = tableSchemaBase(spark, targetDir, batchId)
      val evolved = evolveTableSchema(base, reduced.schema, "Streams.mergeSink")
      // the write counts its own rows: an emptiness probe would be a
      // second Spark action scanning the change batch again
      val layerDir = new org.apache.hadoop.fs.Path(s"$targetDir/rows/batch=$batchId")
      val landed = org.apache.spark.sql.Observation()
      reduced.observe(landed, count(lit(1)).as("rows"))
        .coalesce(filesPerBatch).write.mode("overwrite").parquet(layerDir.toString)
      val hasRows = landed.get("rows") != 0L
      if (!hasRows)
        layerDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(layerDir, true)
      else if (changelog)
        deriveChangelog(spark, targetDir, layout, reduced, batchId,
          changelogKeyPushdown, filesPerBatch, "Streams.mergeSink")
      if (listBatchDirs(spark, targetDir, "rows").nonEmpty ||
          committedCompactions(spark, targetDir, "rows").nonEmpty)
        commitIndexVersion(spark, targetDir, checkpoint, batchId, retainVersions,
          schema = Some(if (hasRows) evolved else base))
      maybeAutoCompact(spark, targetDir, "rows", keyCols, compactFiles,
        compactEvery, batchId, mergeResolveFor(layout), evolving = true,
        maxTail = maxTail)
    }
  }

  /** The per-batch CHANGE-FEED derivation shared by [[mergeSink]]'s
    * trigger body and the external batch write ([[mergeTableInsert]])
    * — the RETRACTION DERIVATION the downstream IVM needs: the batch's
    * keys are looked up in the PRE-batch state (one key-semi-join per
    * application against the resolved layers `< batchId`; replay-safe
    * because a failed attempt's own batch dir sits above that bound,
    * so re-deriving is idempotent). Every looked-up old row retracts
    * (-1, old values); every non-tombstone winner asserts (+1, new
    * values). The ±ops TELESCOPE per key — -v1+v2, -v2+v3 … — so any
    * grouped integer-algebra aggregate over the changelog equals the
    * same aggregate over the final table, which is what lets an
    * aggSnapshotSink-style MV follow a MUTABLE base. */
  private def deriveChangelog(spark: org.apache.spark.sql.SparkSession,
                              targetDir: String, layout: MergeLayout,
                              reduced: DataFrame, batchId: Long,
                              changelogKeyPushdown: Int,
                              filesPerBatch: Int, caller: String): Unit = {
    import org.apache.spark.sql.functions.col
    val keyCols = layout.keys
    val seqCol = layout.seqCol
    val deleteCol = layout.deleteCol
    val targetCols = reduced.columns
      .filterNot(c => c == seqCol || c == deleteCol).toIndexedSeq
    val hasPrev = listBatchDirs(spark, targetDir, "rows")
      .exists(_ < batchId) ||
      committedCompactions(spark, targetDir, "rows")
        .exists(_ < batchId)
    val plus = reduced.filter(!col(deleteCol))
      .select(targetCols.map(col): _*)
      .withColumn("op", org.apache.spark.sql.functions.lit(1))
    val out =
      if (!hasPrev) plus
      else {
        val preBatch = maintainedBatchRows(spark, targetDir, "rows",
          batchId - 1, evolving = true)
        // dropped-column guard: the retraction side reads the
        // history's merged schema; if the batch dropped a data
        // column, -1 rows would carry its real old values while
        // +1 rows carried nothing — telescoping over that column
        // breaks silently downstream. Fail here instead.
        val droppedCols = preBatch.columns
          .filterNot(c => c == "batch" || c == seqCol || c == deleteCol)
          .filterNot(reduced.columns.contains)
        require(droppedCols.isEmpty,
          s"$caller: changelog derivation: the batch " +
            s"schema drops column(s) ${droppedCols.mkString(", ")} " +
            "present in the table's history — retractions would " +
            "carry real old values while assertions carried none, " +
            "breaking ±op telescoping for downstream MVs; schema " +
            "evolution may only ADD nullable columns")
        // prune the layers by the batch's keys BEFORE the
        // latest-wins window — sound because resolution
        // partitions by the key columns (latestTableWhere's
        // commuting argument), and it keeps the per-trigger
        // window O(|touched keys'| layers), never O(|table|)
        val touched = reduced.select(keyCols.map(col): _*).distinct()
        // KEY PUSHDOWN (the 100 TB move): a semi-join bounds the
        // window but not the SCAN — without a pushed predicate
        // every trigger reads the whole compacted generation.
        // When the touched-key set is small, collect it (bounded
        // like tableDelete's maxValues) and pre-filter with one
        // IN-list per key column: each references only key
        // columns, so whole key-groups pass or fail together and
        // the filter commutes with latest-wins resolution; the
        // per-column lists over-approximate the touched TUPLES,
        // and the semi-join below restores exactness.
        val touchedRows =
          if (changelogKeyPushdown > 0)
            Some(touched.limit(changelogKeyPushdown + 1).collect())
              .filter(_.length <= changelogKeyPushdown)
          else None
        val prunedLayers = touchedRows match {
          case Some(rows) if rows.nonEmpty =>
            keyCols.zipWithIndex.foldLeft(preBatch) {
              case (df, (k, i)) => df.where(col(k).isin(
                rows.map(_.get(i)).distinct.toIndexedSeq: _*))
            }
          case _ => preBatch
        }
        val prev = mergeResolveFor(layout)(
          prunedLayers.join(touched, keyCols, "left_semi"))
        // ADD evolution: a just-added data column may be absent
        // from every resolved prior layer (targetCols comes from
        // the NEW batch) — retraction rows correctly carry
        // nothing for it (the pre-image had no value), which the
        // allowMissingColumns union surfaces as null
        val minusCols = targetCols.filter(prev.columns.contains)
        val minus = prev
          .select(minusCols.map(col): _*)
          .withColumn("op", org.apache.spark.sql.functions.lit(-1))
        minus.unionByName(plus, allowMissingColumns = true)
      }
    out.coalesce(filesPerBatch).write.mode("overwrite")
      .parquet(s"$targetDir/changelog/batch=$batchId")
  }

  /** EXTERNAL batch write to a merge-on-read table — the write face of
    * [[mergeSink]]'s layout: ONE call applies one batch (one
    * O(|rows|) layer dir + one version commit, the same latest-wins
    * contract), which is what lets plain SQL sessions mutate a graft
    * table (`INSERT INTO` a `USING graft` view routes here through
    * [[graft.sources.v2.GraftDataSource]]'s V1 write bridge, as does
    * `df.write.format("graft").mode("append")`).
    *
    * Semantics — the write face carries DATA COLUMNS ONLY (the read
    * face's schema): ordering across writes comes from the batch id
    * (resolution orders by `(batch, seq)` descending, and each
    * external write IS one batch), so the write assigns the layout's
    * seq column a constant and duplicate keys WITHIN one batch are
    * refused (one write is one version — in-batch duplicates would
    * have no defined order). `delete = true` tombstones the rows'
    * keys instead of asserting values. A target whose `changelog/`
    * history exists keeps emitting the ±op feed — external writes
    * derive retractions exactly as the sink's triggers do, so
    * downstream IVM consumers (and the streaming feed source) never
    * miss a mutation; `changelog = true` starts a feed on a table's
    * FIRST write.
    *
    * Creation: with `createKeys` and no existing `_merge` marker, the
    * call CREATES the table (internal `__seq`/`__del` layout columns).
    * Ownership: a target maintained by a LIVE streaming sink (its
    * `_query` marker) refuses — the sink's checkpoint owns batch
    * numbering, and an external layer at the sink's next id would be
    * replay-overwritten. Retire the sink first (delete `_query`).
    * Crash safety and CONCURRENT WRITERS: each write stakes an
    * exclusive per-version claim (`v=<id>/_CLAIM`, atomic
    * overwrite-false create) before touching any layer, so two racing
    * external writers — even from different processes — land in
    * DISTINCT versions (the loser of a claim race re-reads the id
    * space and moves past the winner; pathological contention refuses
    * loudly after bounded retries). A torn write (crash between layer
    * write and commit) is invisible to readers and reclaimed by a
    * later write only once its claim has aged past `inFlightClaimMs`
    * (default 30 min) — size that window above your slowest expected
    * write. A writer that DOES outlive the window and loses its claim
    * to a racer refuses at commit time (claims carry the writer's
    * nonce, re-checked before the marker is published): the caller
    * sees "nothing was published — retry", never a success report for
    * a reclaimed write. The version's read schema (`v=<id>/_schema`) is
    * recorded at commit; a write that commits while a lower version is
    * still being written records none, so its reads infer the schema
    * and the slower write's added columns are never planned away.
    * Returns the committed version. */
  def mergeTableInsert(spark: org.apache.spark.sql.SparkSession,
                       targetDir: String, rows: DataFrame,
                       delete: Boolean = false,
                       createKeys: Seq[String] = Nil,
                       changelog: Boolean = false,
                       retainVersions: Int = 3,
                       filesPerBatch: Int = 1,
                       changelogKeyPushdown: Int = 1024,
                       inFlightClaimMs: Long = 30L * 60 * 1000): Long = {
    import org.apache.spark.sql.functions.{col, lit}
    val who = "Streams.mergeTableInsert"
    val fs = new org.apache.hadoop.fs.Path(targetDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(new org.apache.hadoop.fs.Path(s"$targetDir/_query")),
      s"$who: $targetDir is maintained by a streaming mergeSink " +
        "checkpoint — an external layer at the sink's next batch id " +
        "would be silently replay-overwritten; stop the sink and delete " +
        s"$targetDir/_query to adopt external writes")
    val layout = mergeLayoutOf(spark, targetDir) match {
      case Some(l) =>
        require(createKeys.isEmpty || createKeys == l.keys,
          s"$who: $targetDir exists with keys ${l.keys.mkString(", ")} — " +
            s"createKeys (${createKeys.mkString(", ")}) conflicts")
        l
      case None =>
        require(createKeys.nonEmpty,
          s"$who: $targetDir has no _merge marker — pass createKeys to " +
            "CREATE the table on first write")
        require(!rows.columns.contains("__seq") &&
            !rows.columns.contains("__del"),
          s"$who: '__seq'/'__del' are the created table's layout " +
            "columns — rename those data columns")
        MergeLayout(createKeys, "__seq", "__del")
    }
    layout.keys.foreach(k => require(rows.columns.contains(k),
      s"$who: the write is missing key column '$k'"))
    require(!rows.columns.contains("batch"),
      s"$who: 'batch' is the layout's own partition column — rename it")
    require(!rows.columns.contains(layout.seqCol) &&
        !rows.columns.contains(layout.deleteCol),
      s"$who: the write face carries data columns only — " +
        s"'${layout.seqCol}'/'${layout.deleteCol}' are assigned by the " +
        "write itself (use delete = true to tombstone)")
    // evaluate the incoming query ONCE (an INSERT…SELECT would
    // otherwise run for the duplicate check, the layer write, and the
    // feed derivation separately)
    val batch = rows.localCheckpoint(true)
    // one write is one version: in-batch duplicate keys have no defined
    // order under the constant seq this write assigns
    require(batch.count() ==
        batch.select(layout.keys.map(col): _*).distinct().count(),
      s"$who: duplicate keys within one write — one external write is " +
        "one version; split conflicting rows into separate writes")
    writeMergeLayout(spark, targetDir, layout)
    // ---- exclusive version claim -----------------------------------
    // Two RACING external writers (the exact pattern format("graft")
    // write support invites — SQL INSERT INTO from any session) must
    // never write the same layer or double-claim one version id. The
    // arbiter is an atomic exclusive create of `v=<id>/_CLAIM`
    // (overwrite = false — the loser gets FileAlreadyExists, re-reads
    // the id space, and moves PAST the winner): claims are invisible
    // to readers (committed = `_SUCCESS`), live inside the version dir
    // so retention removes them with it, and an orphaned claim (crash
    // before commit) is reclaimed by a later writer only once older
    // than `inFlightClaimMs` — a reclaim that ignored the window would
    // itself destroy a slow writer's committed-intent layer.
    val nowMs = System.currentTimeMillis()
    val committedMax = (snapshotVersions(spark, targetDir) ++
      committedCompactions(spark, targetDir, "rows")).maxOption
      .getOrElse(-1L)
    def claimPath(id: Long) = new org.apache.hadoop.fs.Path(
      s"$targetDir/v=$id/_CLAIM")
    def claimedIds: Array[Long] = {
      val p = new org.apache.hadoop.fs.Path(targetDir)
      if (!fs.exists(p)) Array.empty[Long]
      else fs.listStatus(p)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("v="))
        .map(_.getPath.getName.stripPrefix("v=").toLong)
        .filter(id => id > committedMax && fs.exists(claimPath(id)))
    }
    // reclaim TORN previous writes (crash between layer write and
    // commit) — uncommitted ids are invisible to readers, but only
    // those either claimless (pre-claim-protocol leftovers; no live
    // writer can own them, the _query guard excluded a sink) or whose
    // claim has aged past the in-flight window are this writer's to
    // clear; a younger claim is another writer MID-FLIGHT
    ((listBatchDirs(spark, targetDir, "rows") ++
      listBatchDirs(spark, targetDir, "changelog")).filter(_ > committedMax)
      ++ claimedIds).distinct.foreach { id =>
      val cp = claimPath(id)
      val inFlight = fs.exists(cp) &&
        nowMs - fs.getFileStatus(cp).getModificationTime < inFlightClaimMs
      if (!inFlight)
        Seq(s"$targetDir/rows/batch=$id", s"$targetDir/changelog/batch=$id",
          s"$targetDir/v=$id").foreach(d =>
          fs.delete(new org.apache.hadoop.fs.Path(d), true))
    }
    // claim the next free id: above every committed version, compaction
    // id, and surviving in-flight claim; on a lost race re-read the id
    // space (the winner may have committed) and retry bounded — refuse
    // loudly rather than spin under pathological contention
    def nextFree: Long = (snapshotVersions(spark, targetDir) ++
      committedCompactions(spark, targetDir, "rows") ++ claimedIds)
      .maxOption.map(_ + 1).getOrElse(0L)
    var nextId = nextFree
    var claimed = false
    var attempts = 0
    // the claim carries this writer's NONCE: a writer that outlives
    // inFlightClaimMs may be reclaimed mid-flight by a racer, and the
    // pre-commit ownership re-check (below) is what turns that from a
    // silent loss reported as success into a loud refusal
    val nonce = java.util.UUID.randomUUID().toString
    while (!claimed) {
      attempts += 1
      require(attempts <= 64,
        s"$who: could not claim a version id on $targetDir after 64 " +
          "attempts — pathological writer contention; retry when the " +
          "other writers drain")
      try {
        val out = fs.create(claimPath(nextId), false)
        try out.write(nonce.getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        claimed = true
      } catch {
        case e: java.io.IOException =>
          // lost the race iff the claim now exists; anything else is a
          // real filesystem failure and must surface
          if (fs.exists(claimPath(nextId)))
            nextId = math.max(nextFree, nextId + 1)
          else throw e
      }
    }
    // release the claimed id and whatever landed under it
    def release(): Unit = Seq(s"$targetDir/rows/batch=$nextId",
      s"$targetDir/changelog/batch=$nextId", s"$targetDir/v=$nextId")
      .foreach(d => fs.delete(new org.apache.hadoop.fs.Path(d), true))
    // match the existing layers' seq/delete types so the recorded
    // schema never sees an int/long or boolean/string conflict
    val base = tableSchemaBase(spark, targetDir, nextId)
    def typeOf(c: String, dflt: DataType) =
      base.find(_.name == c).map(_.dataType).getOrElse(dflt)
    val withMeta = batch
      .withColumn(layout.seqCol, lit(0L).cast(typeOf(layout.seqCol, LongType)))
      .withColumn(layout.deleteCol, lit(delete).cast(
        typeOf(layout.deleteCol, org.apache.spark.sql.types.BooleanType)))
    // a type change against the committed history is refused before
    // the layer lands
    try evolveTableSchema(base, withMeta.schema, who) catch {
      case e: IllegalArgumentException => release(); throw e
    }
    val feed = changelog || fs.exists(
      new org.apache.hadoop.fs.Path(s"$targetDir/changelog"))
    if (feed)
      require(!batch.columns.contains("op"),
        s"$who: the changelog emits an 'op' column — rename the write's " +
          "own 'op' column")
    withMeta.coalesce(filesPerBatch)
      .write.mode("overwrite").parquet(s"$targetDir/rows/batch=$nextId")
    if (feed)
      deriveChangelog(spark, targetDir, layout, withMeta, nextId,
        changelogKeyPushdown, filesPerBatch, who)
    mergeInsertInterleave.foreach(f => f(targetDir))
    // OWNERSHIP re-check before publishing: a writer that outlived
    // inFlightClaimMs may have had its claim and layer reclaimed by a
    // racer — committing anyway would publish a version whose layer is
    // gone (or a racer's), a silent loss reported as success. The
    // nonce comparison shrinks that window from the whole write
    // duration to the microseconds between this read and the marker
    // create.
    val claimNow = try {
      val in = fs.open(claimPath(nextId))
      try new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    } catch { case _: java.io.IOException => "" }
    require(claimNow == nonce,
      s"$who: the claim on version $nextId of $targetDir is no longer " +
        "this writer's — the write outlived inFlightClaimMs and a " +
        "racing writer reclaimed it; NOTHING was published (retry the " +
        "write, and size inFlightClaimMs above your slowest write)")
    // the record is built now, not at the claim: a racer below this id
    // may have committed since (its columns join the record), or may
    // still be writing with its files not yet visible (then this
    // version records nothing and its reads infer)
    val schema =
      if (uncommittedBelow(spark, targetDir, nextId)) None
      else try Some(evolveTableSchema(tableSchemaBase(spark, targetDir,
        nextId), withMeta.schema, who)) catch {
        case e: IllegalArgumentException => release(); throw e
      }
    commitIndexVersion(spark, targetDir, checkpoint = "", nextId,
      retainVersions, withManifest = false, schema = schema)
    nextId
  }

  // test seam: invoked after the layer (and feed) write, before the
  // pre-commit claim-ownership check — lets specs interleave a racing
  // writer into the claim window deterministically (production: None)
  @volatile private[graft] var mergeInsertInterleave
      : Option[String => Unit] = None

  /** The shared `compactMaxTail` contract of the six maintained sinks:
    * -1 (every sink's default) derives `8 × compactEvery` — reads stay
    * bounded by default (the lifecycle probe measured the uncapped
    * geometric tail creeping per-trigger time AND point reads 2× by
    * 10³ batches) while fold frequency stays within a constant factor
    * of the pure geometric schedule's write amplification; 0 = uncapped
    * (pure geometric, the write-amplification optimum); > 0 = explicit
    * cap, at or above the `compactEvery` floor. */
  private def resolvedMaxTail(caller: String, compactMaxTail: Int,
                              compactEvery: Int): Int = {
    require(compactMaxTail >= -1,
      s"$caller: compactMaxTail must be -1 (derived), 0 (uncapped), or " +
        "a positive cap")
    require(compactMaxTail <= 0 || compactMaxTail >= compactEvery,
      s"$caller: compactMaxTail ($compactMaxTail) below " +
        s"compactEvery ($compactEvery) would silently override the " +
        "configured fold floor — raise the cap or lower the floor")
    if (compactMaxTail == -1) {
      if (compactEvery > 0) 8 * compactEvery else 0
    } else compactMaxTail
  }

  /** The ±op CHANGE FEED of a [[mergeSink]] target run with
    * `changelog = true` — the table's mutations as retraction algebra:
    * per committed batch, `op = -1` rows carrying each touched key's
    * PRE-batch values and `op = +1` rows carrying its new values
    * (a delete emits only the retraction; a reinsert after delete only
    * the assertion). The ops telescope per key, so any grouped
    * combinable aggregate over the feed equals the same aggregate over
    * [[latestTable]] — feed it to [[graft.ops.Cdc.aggSnapshotDelta]] /
    * the ±op [[aggSnapshotSink]] to maintain MVs over a MUTABLE base,
    * the thing append-only file coverage can never express. Rows carry
    * the layer's `batch` column; `asOf` bounds the feed to a retained
    * version's history, `sinceVersion` cuts re-consumed prefixes.
    * The feed is append-only HISTORY: compaction and vacuum of the
    * `rows/` layers never touch it — its storage is bounded by an
    * explicit [[truncateChangelog]] call, after which reads must cut
    * at or above the recorded floor (a read below it refuses loudly
    * here rather than serving a feed with silently-missing history). */
  def changelogOf(spark: org.apache.spark.sql.SparkSession,
                  targetDir: String, sinceVersion: Long = -1L,
                  asOf: Option[Long] = None): DataFrame = {
    require(mergeLayoutOf(spark, targetDir).isDefined,
      s"Streams.changelogOf: $targetDir has no _merge marker — not a " +
        "merge-on-read table target")
    val version = resolveVersion(spark, targetDir, Nil, asOf,
      "Streams.changelogOf")
    val chDir = new org.apache.hadoop.fs.Path(s"$targetDir/changelog")
    require(chDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(chDir),
      s"Streams.changelogOf: $targetDir carries no changelog/ history — " +
        "run its mergeSink with changelog = true to emit the change feed")
    val floor = changelogFloor(
      spark.sparkContext.hadoopConfiguration, targetDir)
    require(sinceVersion >= floor,
      s"Streams.changelogOf: the feed at and below version $floor was " +
        s"dropped by truncateChangelog — a read cutting at sinceVersion=" +
        s"$sinceVersion would silently miss that history; cut at or above " +
        "the floor, or BOOTSTRAP: latestTable(asOf = a retained version " +
        ">= the floor) plus the feed above it reconstructs any state")
    val col = org.apache.spark.sql.functions.col _
    maintainedBatchRows(spark, targetDir, "changelog", version,
        evolving = true)
      // partition discovery types batch as int; serve the long the
      // version markers use
      .withColumn("batch", col("batch").cast("long"))
      .where(col("batch") > sinceVersion)
  }

  /** The change feed's RETENTION floor: the newest `floor=<v>` marker
    * under `changelog/_retention`, -1 when the feed was never
    * truncated. Versions at and below the floor have had their
    * `changelog/batch=` dirs dropped by [[truncateChangelog]].
    * Name-encoded empty marker files (the `v=<id>/_SUCCESS`
    * discipline): recording a floor is one atomic create with no
    * content to tear, and reading it is one tiny-dir listing — never a
    * scan of the feed's history, so the streaming source can afford
    * the check every trigger. */
  def changelogFloor(conf: org.apache.hadoop.conf.Configuration,
                     targetDir: String): Long = {
    val dir = new org.apache.hadoop.fs.Path(
      s"$targetDir/changelog/_retention")
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) -1L
    else fs.listStatus(dir).iterator.map(_.getPath.getName)
      .filter(_.startsWith("floor="))
      .map(_.stripPrefix("floor=").toLong)
      .foldLeft(-1L)(math.max)
  }

  /** Drops the change feed's history at and below version `keepAfter` —
    * the retention decision [[changelogOf]]'s append-only contract
    * otherwise defers forever. A year-old merge table carries every
    * version ever committed in `changelog/`; one call bounds it, and
    * every feed read path (batch [[changelogOf]], the DSv2 batch face,
    * the streaming source) refuses below the recorded floor instead of
    * serving silently-gapped history. A consumer whose cut or
    * checkpoint is below the floor re-BOOTSTRAPS: `latestTable(asOf =
    * a retained version >= floor)` plus the feed above that version
    * reconstructs any state (the recipe `q_graft_feed_trunc` verifies
    * against the full-replay oracle).
    *
    * Crash-safe ordering: the floor marker lands FIRST (atomic
    * name-encoded create), then the batch dirs are deleted — a crash
    * between the two leaves readers already refusing below the floor
    * and a re-run of the same call completing the deletes (idempotent:
    * re-recording an equal floor is a no-op, and only dirs at or below
    * it are ever touched). The floor only advances: lowering it is
    * refused (the history below the existing floor is gone), as is a
    * floor above the newest committed version (it would refuse reads
    * of history that never existed). Offline-maintenance contract as
    * for [[graft.ops.Layout.targetedDeleteInPlace]]: don't race two
    * MUTATORS of one feed — but a live [[mergeSink]] appending new
    * versions above the floor is safe, truncation never touches them.
    *
    * Returns the dropped version ids, ascending. */
  def truncateChangelog(spark: org.apache.spark.sql.SparkSession,
                        targetDir: String, keepAfter: Long): Seq[Long] = {
    require(mergeLayoutOf(spark, targetDir).isDefined,
      s"Streams.truncateChangelog: $targetDir has no _merge marker — " +
        "not a merge-on-read table target")
    val conf = spark.sparkContext.hadoopConfiguration
    val chDir = new org.apache.hadoop.fs.Path(s"$targetDir/changelog")
    val fs = chDir.getFileSystem(conf)
    require(fs.exists(chDir),
      s"Streams.truncateChangelog: $targetDir carries no changelog/ " +
        "history — nothing to truncate")
    val committed = snapshotVersions(spark, targetDir)
    require(committed.nonEmpty && keepAfter <= committed.max,
      s"Streams.truncateChangelog: keepAfter=$keepAfter is above the " +
        s"newest committed version ${committed.sorted.lastOption
          .getOrElse(-1L)} — a floor above committed history would " +
        "refuse reads of versions that never existed")
    val existing = changelogFloor(conf, targetDir)
    require(keepAfter >= existing,
      s"Streams.truncateChangelog: the feed is already truncated at " +
        s"floor=$existing — that history is gone, the floor cannot move " +
        s"back down to $keepAfter")
    if (keepAfter > existing) {
      val rDir = new org.apache.hadoop.fs.Path(chDir, "_retention")
      fs.mkdirs(rDir)
      fs.create(new org.apache.hadoop.fs.Path(rDir, s"floor=$keepAfter"),
        true).close()
      // older floor markers are redundant once the new one exists (the
      // floor is the max); drop them so the tiny-dir listing stays tiny
      fs.listStatus(rDir).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("floor=") &&
            n.stripPrefix("floor=").toLong < keepAfter)
          fs.delete(st.getPath, false)
      }
    }
    fs.listStatus(chDir).iterator.flatMap { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith("batch=") &&
          n.stripPrefix("batch=").toLong <= keepAfter) {
        fs.delete(st.getPath, true)
        Some(n.stripPrefix("batch=").toLong)
      } else None
    }.toArray.sorted.toSeq
  }

  /** [[truncateChangelog]] with the cut expressed the way retention
    * policies are written — "keep N days of feed": drops history for
    * every version whose COMMIT time (`v=<id>/_SUCCESS` mtime) is
    * before `cutoffMillis`. Commit times are monotone with version ids
    * (versions commit in order), so the resolved floor is the newest
    * version older than the cutoff; when nothing is that old the call
    * is a no-op. Same crash-safety, monotone-floor, and refusal
    * contract as the version-id form it delegates to. */
  def truncateChangelogOlderThan(spark: org.apache.spark.sql.SparkSession,
                                 targetDir: String,
                                 cutoffMillis: Long): Seq[Long] = {
    require(mergeLayoutOf(spark, targetDir).isDefined,
      s"Streams.truncateChangelogOlderThan: $targetDir has no _merge " +
        "marker — not a merge-on-read table target")
    val path = new org.apache.hadoop.fs.Path(targetDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = snapshotVersions(spark, targetDir).filter { v =>
      fs.getFileStatus(new org.apache.hadoop.fs.Path(
        s"$targetDir/v=$v/_SUCCESS")).getModificationTime < cutoffMillis
    }
    val existing = changelogFloor(
      spark.sparkContext.hadoopConfiguration, targetDir)
    if (old.isEmpty || old.max <= existing) Seq.empty
    else truncateChangelog(spark, targetDir, old.max)
  }

  /** The gap-free BOOTSTRAP point for a new feed consumer — the
    * companion to [[truncateChangelog]]'s refusal message: the newest
    * committed version v PINNED FIRST, the table state as of exactly
    * v, and the contract that subscribing with `sinceVersion = v`
    * (batch [[changelogOf]] or the streaming source) continues
    * gap-free from that state. The pin ordering is the point: the
    * naive recipe — read `latestTable()` and separately pick a
    * sinceVersion — tears when a version commits in between, silently
    * double-serving or dropping one version's changes. Returns
    * (v, state-as-of-v). */
  def feedBootstrap(spark: org.apache.spark.sql.SparkSession,
                    targetDir: String): (Long, DataFrame) = {
    require(mergeLayoutOf(spark, targetDir).isDefined,
      s"Streams.feedBootstrap: $targetDir has no _merge marker — not a " +
        "merge-on-read table target")
    val v = snapshotVersions(spark, targetDir).sorted.lastOption.getOrElse(
      throw new IllegalStateException(
        s"Streams.feedBootstrap: no committed version under $targetDir yet"))
    (v, latestTable(spark, targetDir, asOf = Some(v)).getOrElse(
      throw new IllegalStateException(
        s"Streams.feedBootstrap: version $v vanished mid-bootstrap — " +
          "racing vacuum? re-run")))
  }

  /** The served state of a [[mergeSink]] target: layers `<= version`
    * resolved latest-wins by `(batch, seq)` descending, tombstones
    * dropped, layout columns hidden — the same table [[upsertSink]]
    * would have materialized, read off O(|touched keys| per batch)
    * writes instead of per-trigger full rewrites. None before the
    * first committed version. `asOf` time-travels to any retained
    * version under [[snapshotAsOf]]'s window contract. */
  def latestTable(spark: org.apache.spark.sql.SparkSession,
                  targetDir: String,
                  asOf: Option[Long] = None): Option[DataFrame] = {
    val layout = mergeLayoutOf(spark, targetDir).getOrElse(
      throw new IllegalStateException(
        s"Streams.latestTable: $targetDir has no _merge marker — not a " +
          "merge-on-read table target (latestSnapshot serves the agg " +
          "snapshots; upsertSink targets read their v= dir directly)"))
    val vOpt = asOf match {
      case Some(_) => Some(resolveVersion(spark, targetDir, Seq("rows"),
        asOf, "Streams.latestTable"))
      case None => snapshotVersions(spark, targetDir).sorted.lastOption
    }
    vOpt.map { v =>
      mergeResolveFor(layout)(
        maintainedBatchRows(spark, targetDir, "rows", v, evolving = true))
        .drop("batch", layout.seqCol, layout.deleteCol)
    }
  }

  /** [[latestTable]] restricted by a KEY predicate, applied BEFORE
    * latest-wins resolution — sound exactly because resolution
    * partitions by the key columns, so filtering whole key-groups
    * first commutes with it ((σ_key ∘ resolve) = (resolve ∘ σ_key)),
    * while a non-key predicate would NOT (it could drop a key's
    * winning row and resurrect an older version — refused loudly).
    * This is the 100 TB point-lookup shape: the predicate reaches the
    * layer scans as a pushed parquet filter, the compacted generation
    * is key-range-clustered so its row groups/footers prune, and the
    * latest-wins window then runs over the handful of surviving rows
    * instead of the whole table. */
  def latestTableWhere(spark: org.apache.spark.sql.SparkSession,
                       targetDir: String,
                       pred: org.apache.spark.sql.Column,
                       asOf: Option[Long] = None): Option[DataFrame] = {
    val layout = mergeLayoutOf(spark, targetDir).getOrElse(
      throw new IllegalStateException(
        s"Streams.latestTableWhere: $targetDir has no _merge marker — not " +
          "a merge-on-read table target"))
    val vOpt = asOf match {
      case Some(_) => Some(resolveVersion(spark, targetDir, Seq("rows"),
        asOf, "Streams.latestTableWhere"))
      case None => snapshotVersions(spark, targetDir).sorted.lastOption
    }
    vOpt.map { v =>
      val filtered = maintainedBatchRows(spark, targetDir, "rows", v,
        evolving = true).where(pred)
      requireKeyOnlyPredicate(filtered, layout.keys,
        "Streams.latestTableWhere", "latest-wins resolution",
        "latestTable")
      mergeResolveFor(layout)(filtered)
        .drop("batch", layout.seqCol, layout.deleteCol)
    }
  }

  /** [[latestSnapshot]] restricted by a KEY predicate, applied BEFORE
    * the partials fold — sound exactly because the fold groups by the
    * snapshot keys, so filtering whole key-groups first commutes with
    * it; a non-key predicate (a measure threshold, say) would drop
    * partial rows a key's fold still needs and is refused loudly. The
    * 100 TB dashboard point-lookup shape for maintained MVs: the
    * predicate reaches the delta/generation scans as a pushed parquet
    * filter (generations are key-range-clustered, so files/row groups
    * prune), and the fold then runs over the surviving partials
    * instead of every group. Partials-layout targets only. */
  def latestSnapshotWhere(spark: org.apache.spark.sql.SparkSession,
                          targetDir: String,
                          pred: org.apache.spark.sql.Column,
                          asOf: Option[Long] = None): Option[DataFrame] = {
    val layout = aggLayoutOf(spark, targetDir).getOrElse(
      throw new IllegalStateException(
        s"Streams.latestSnapshotWhere: $targetDir has no _layout marker — " +
          "not a partials-layout agg-snapshot target"))
    val vOpt = asOf match {
      case Some(_) => Some(resolveVersion(spark, targetDir, Seq("delta"),
        asOf, "Streams.latestSnapshotWhere"))
      case None => snapshotVersions(spark, targetDir).sorted.lastOption
    }
    vOpt.map { v =>
      val filtered = maintainedBatchRows(spark, targetDir, "delta", v,
        evolving = true).where(pred)
      requireKeyOnlyPredicate(filtered, layout.keys,
        "Streams.latestSnapshotWhere", "the partials fold",
        "latestSnapshot")
      mergePartialsFor(layout, keepBatch = false)(filtered.drop("batch"))
    }
  }

  /** The key-only gate shared by the pushdown point reads: the
    * predicate must reference ONLY key columns — filtering whole key
    * groups commutes with per-key resolution/folding, anything else
    * could drop a row the winner/fold still needs. Reads the ANALYZED
    * filter (a Spark-4 Column is a ColumnNode wrapper until it meets a
    * plan — only the resolved condition exposes real attribute
    * references). */
  private def requireKeyOnlyPredicate(filtered: DataFrame,
                                      keys: Seq[String], caller: String,
                                      operation: String,
                                      fullRead: String): Unit = {
    val refs = filtered.queryExecution.analyzed.collectFirst {
      case org.apache.spark.sql.catalyst.plans.logical.Filter(c, _) =>
        c.references.map(_.name).toSet
    }.getOrElse(Set.empty[String])
    require(refs.nonEmpty && refs.subsetOf(keys.toSet),
      s"$caller: the predicate references ${refs.mkString(", ")} but only " +
        s"key columns (${keys.mkString(", ")}) commute with $operation — " +
        s"filter non-key columns on $fullRead's OUTPUT")
  }

  /** [[compactIndex]] for a [[mergeSink]] target: the generation is
    * the RESOLVED state of the covered layers — latest-wins applied,
    * tombstones dropped (safe exactly because a generation folds
    * everything `<= version`: no older layer survives for a dropped
    * tombstone to un-mask) — key-range-clustered so key lookups and
    * range reads prune generation files. Configuration comes from the
    * target's own `_merge` marker. */
  def compactTable(spark: org.apache.spark.sql.SparkSession,
                   targetDir: String, targetFiles: Int = 4,
                   minBatches: Int = 2,
                   retainCompactions: Int = 2): Option[Long] = {
    val layout = mergeLayoutOf(spark, targetDir).getOrElse(
      throw new IllegalStateException(
        s"Streams.compactTable: $targetDir has no _merge marker — not a " +
          "merge-on-read table target"))
    compactCore(spark, targetDir, "rows", layout.keys, targetFiles,
      minBatches, retainCompactions, mergeResolveFor(layout),
      evolving = true)
  }

  /** Targeted deletion from a [[mergeSink]] target — right-to-be-
    * forgotten for the merge-on-read table: CDC tombstones only mask
    * a key (older layers keep its bytes until compaction folds them
    * away); this scrubs every layer that CONTAINS it, batch dirs and
    * generations, via the shared staged-swap rewrite — INCLUDING the
    * `changelog/` history when the sink emits one (the feed carries
    * the key's old values in its retraction rows; forgetting the
    * table while keeping its change history would forget nothing).
    * Consumers that aggregate the feed see the scrub as history
    * rewritten — re-derive downstream state for the forgotten keys,
    * exactly as with the base-table scrub. `keyCol` must be one of
    * the table's key columns. Offline-maintenance contract like its
    * siblings. Returns the number of layers rewritten. */
  def tableDelete(spark: org.apache.spark.sql.SparkSession,
                  targetDir: String, keyCol: String, values: Seq[Any],
                  maxValues: Int = 1024): Int = {
    val layout = mergeLayoutOf(spark, targetDir).getOrElse(
      throw new IllegalStateException(
        s"Streams.tableDelete: $targetDir has no _merge marker — not a " +
          "merge-on-read table target"))
    require(layout.keys.contains(keyCol),
      s"Streams.tableDelete: '$keyCol' is not a key of $targetDir " +
        s"(keys: ${layout.keys.mkString(", ")})")
    require(values.nonEmpty, "Streams.tableDelete: no values")
    require(values.length <= maxValues,
      s"Streams.tableDelete: ${values.length} values exceeds $maxValues — " +
        "a deletion set that large is a rewrite, not a maintenance op")
    scrubLayers(spark, targetDir, "rows", keyCol, values) +
      scrubLayers(spark, targetDir, "changelog", keyCol, values)
  }

  /** Latest-wins resolution for [[mergeSink]] layers: ONE survivor per
    * key by `(batch, seq)` descending, tombstones dropped. Keeps the
    * `batch` column — a compacted generation must remember each
    * survivor's origin batch so resolution against a newer tail stays
    * correctly ordered. */
  private def mergeResolveFor(layout: MergeLayout)(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, row_number}
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(layout.keys.map(col): _*)
      .orderBy(col("batch").desc, col(layout.seqCol).desc)
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1).drop("__rk")
      .filter(!col(layout.deleteCol))
  }

  /** Streaming CDC apply: maintain a parquet snapshot under a change
    * STREAM — each microbatch is merged via [[graft.ops.Cdc.mergeUpsert]]
    * (latest seq wins per key, deletes vanish, inserts append) and the
    * result written as an immutable versioned snapshot
    * `targetDir/v=<batchId>`; readers take the highest version. Writing
    * a NEW version per batch (never in-place) is what makes replay
    * idempotent: if the query restarts and re-delivers a batch, the
    * rewrite of `v=<batchId>` from the same predecessor produces the
    * same bytes — the exactly-once contract foreachBatch requires of
    * its committer. Change rows carry the target's columns + `seqCol` +
    * boolean `deleteCol`.
    *
    * Scale note: at real scale the per-version rewrite cost is bounded
    * the same way [[graft.ops.Cdc.mergeUpsert]] bounds it — the
    * snapshot is touched by one broadcast key anti-join per batch — and
    * old versions are retired by retention, not by this operator; for
    * a keyed table too large to rewrite per trigger, use [[mergeSink]]
    * (the merge-on-read layout) instead. */
  def upsertSink(changes: DataFrame, targetDir: String, checkpoint: String,
                 keyCols: Seq[String], seqCol: String,
                 deleteCol: String): StreamingQuery = {
    val targetCols = changes.columns.filterNot(c => c == seqCol || c == deleteCol)
    toVersionedSink(changes, checkpoint, targetDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      val versions = snapshotVersions(spark, targetDir)
        .filter(_ < batchId) // replay must ignore its own failed attempt
      val target = versions.sorted.lastOption match {
        case Some(v) => spark.read.parquet(s"$targetDir/v=$v")
        case None => batch.sparkSession.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          batch.select(targetCols.map(col).toIndexedSeq: _*).schema)
      }
      graft.ops.Cdc.mergeUpsert(target, batch, keyCols, seqCol, deleteCol)
        .write.mode("overwrite").parquet(s"$targetDir/v=$batchId")
    }
  }

  /** Streaming incremental view maintenance: keep a
    * [[graft.ops.Cdc.aggSnapshot]] current under a change STREAM (rows
    * tagged `opCol` = +1 insert / −1 retract). Each microbatch is
    * pre-aggregated to ONE SIGNED PARTIAL row per touched key
    * ([[graft.ops.Cdc.aggSnapshotDelta]] — the retraction-safe integer
    * algebra, left unapplied) and appended under
    * `delta/batch=<batchId>/`, committed by a `v=<batchId>/_SUCCESS`
    * marker — the same batch-dir layout as every other maintained
    * index here. Nothing cumulative is ever rewritten: per-batch write
    * cost is O(|touched keys|) whatever the snapshot has grown to,
    * where the pre-round-11 layout rewrote the ENTIRE snapshot every
    * microbatch (a per-user MV over a 100 TB base = billions of groups
    * rewritten per trigger — the write-amplification shape the
    * batch-dir migration exists to kill). Readers fold the partials
    * per key at read ([[latestSnapshot]] /
    * [[graft.plans.MvRewrite]]'s version resolution — fully-retracted
    * keys vanish exactly like the eager refresh, and the fold is the
    * same order-free LONG arithmetic, so resolved == rebuilt
    * bit-for-bit); [[compactSnapshot]] + [[vacuumIndex]]`(…, "delta")`
    * bound the layer count, with `compactEvery` enabling the in-line
    * geometric trigger.
    *
    * This is the streaming half of the MV story: register the base
    * table against the target and queries over the petabyte base read
    * a |groups|-bounded snapshot that trails the change stream by one
    * microbatch. Replay is idempotent by construction — a batch's
    * partial is a pure function of the batch, and a replayed batch
    * overwrites only its own subdirectory.
    *
    * No min/max or distinct-sketch columns here, by design: those
    * summaries are NOT retractable (a deleted row's extremum or hash
    * cannot be undone without rescanning the base), so they live only
    * on the append-only sink ([[aggSnapshotSinkAppendOnly]]); this ±op
    * sink maintains exactly the retraction-safe algebra (count,
    * fixed-point sums, non-null counts). */
  /** MEASURE-SET EVOLUTION (both agg-snapshot sinks): ADDING a measure
    * or sketch column is supported — restart the sink with the widened
    * measure list (same keys/scale/kmvK; the `_layout` marker checks
    * those): new partials carry the new columns, old layers surface
    * them as null under the merged-schema read, and the fold's algebra
    * ignores nulls — so the folded snapshot equals a one-shot rebuild
    * over the evolved base (whose old rows are null in the new column;
    * under retractions, a retraction of a pre-evolution row must carry
    * null there too, exactly as the row was inserted). A registered
    * MvRewrite view over the new measure bails to the direct scan
    * until the first evolved batch commits (the snapshot has no such
    * column to serve — recorded in recentBails), then navigates.
    * Dropping or renaming keys/scale still fails loudly. */
  def aggSnapshotSink(changes: DataFrame, targetDir: String, checkpoint: String,
                      keyCols: Seq[String], opCol: String,
                      measures: Seq[String], scale: Int = 2,
                      retainVersions: Int = 3,
                      filesPerBatch: Int = 1,
                      compactEvery: Int = 0,
                      compactFiles: Int = 4,
                      compactMaxTail: Int = -1): StreamingQuery = {
    // >= 2 so a reader that resolved the previous version keeps its
    // marker for one more trigger — the grace contract shared by every
    // versioned sink here
    require(retainVersions >= 2,
      "aggSnapshotSink: must retain >= 2 versions (in-flight readers may " +
        "hold the predecessor)")
    require(filesPerBatch > 0, "aggSnapshotSink: filesPerBatch must be positive")
    val maxTail = resolvedMaxTail("aggSnapshotSink", compactMaxTail,
      compactEvery)
    val layout = AggLayout(retract = true, keyCols, scale,
      graft.functions.Kmv.DefaultK)
    toVersionedSink(changes, checkpoint, targetDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      unresolveReplayedVersion(spark, targetDir, batchId)
      writeAggLayout(spark, targetDir, layout)
      if (!batch.isEmpty)
        graft.ops.Cdc.aggSnapshotDelta(batch, keyCols, opCol, measures, scale)
          .coalesce(filesPerBatch)
          .write.mode("overwrite").parquet(s"$targetDir/delta/batch=$batchId")
      // an empty FIRST batch commits nothing (there is no snapshot
      // yet); after that even empty batches commit so the _freshness
      // record keeps advancing. No _files manifest: file-coverage is
      // meaningless under retractions (fresh-tail composition is
      // unsound), but STALENESS stays knowable via freshnessOf.
      if (listBatchDirs(spark, targetDir, "delta").nonEmpty ||
          committedCompactions(spark, targetDir, "delta").nonEmpty)
        commitIndexVersion(spark, targetDir, checkpoint, batchId,
          retainVersions, withManifest = false)
      maybeAutoCompact(spark, targetDir, "delta", keyCols, compactFiles,
        compactEvery, batchId, mergePartialsFor(layout, keepBatch = true),
        evolving = true, maxTail = maxTail)
    }
  }

  /** The APPEND-ONLY variant of [[aggSnapshotSink]] — the regime most
    * event streams live in (no retractions, rows only arrive): each
    * microbatch lands as ONE [[graft.ops.Cdc.aggSnapshotMinMax]]
    * partial per touched key under `delta/batch=<batchId>/` — so the
    * maintained snapshot additionally carries EXACT per-group min/max
    * — and a [[graft.plans.MvRewrite.registerVersioned]] view with
    * `minMaxMeasures` then answers min/max/sum/avg/count ad-hoc
    * queries one microbatch behind the stream (the rewrite's own
    * re-aggregation folds the partials for free — every snapshot
    * column is mergeable). `distinctCols` adds one mergeable KMV
    * distinct-count sketch column per listed column (merge == rebuild
    * exactly; [[graft.ops.Cdc.aggSnapshotMinMax]]), which the same
    * registration (`distinctCols` there too) serves to ad-hoc
    * `kmv_distinct` / `approx_count_distinct` queries. Same batch-dir
    * write-amplification contract as the ±op sink — per-batch bytes ∝
    * |touched keys|, never |all groups| — plus the cumulative `_files`
    * coverage manifest that [[graft.plans.MvRewrite
    * .registerVersionedFresh]]'s exactly-current tail composition
    * subtracts from. [[compactSnapshot]] folds layers into
    * |groups|-sized generations; `compactEvery` enables the in-line
    * geometric trigger. */
  def aggSnapshotSinkAppendOnly(rows: DataFrame, targetDir: String,
                                checkpoint: String, keyCols: Seq[String],
                                measures: Seq[String], scale: Int = 2,
                                retainVersions: Int = 3,
                                distinctCols: Seq[String] = Nil,
                                kmvK: Int = graft.functions.Kmv.DefaultK,
                                hllCols: Seq[String] = Nil,
                                hllLgK: Int = 12,
                                distinctTuples: Seq[Seq[String]] = Nil,
                                kllCols: Seq[String] = Nil,
                                kllK: Int = 200,
                                filesPerBatch: Int = 1,
                                compactEvery: Int = 0,
                                compactFiles: Int = 4,
                                compactMaxTail: Int = -1): StreamingQuery = {
    // >= 2 for the same reader-grace reason as aggSnapshotSink
    require(retainVersions >= 2,
      "aggSnapshotSinkAppendOnly: must retain >= 2 versions (in-flight " +
        "readers may hold the predecessor)")
    require(filesPerBatch > 0,
      "aggSnapshotSinkAppendOnly: filesPerBatch must be positive")
    val maxTail = resolvedMaxTail("aggSnapshotSinkAppendOnly",
      compactMaxTail, compactEvery)
    // LOUD degradation at construction: the file-coverage manifest (and
    // so registerVersionedFresh) is defined only for a single-source
    // plan whose one source is a file stream — a union of sources would
    // otherwise get a manifest understating coverage. sourceBatchFiles
    // re-checks authoritatively per batch; this warn answers "why does
    // my fresh registration never navigate" at the obvious place.
    val streamingLeaves = rows.queryExecution.logical.collectLeaves()
      .count(_.isStreaming)
    if (streamingLeaves != 1)
      logWarning(s"aggSnapshotSinkAppendOnly: plan has $streamingLeaves " +
        "streaming sources — no _files manifest will be written, so " +
        "registerVersionedFresh over this target will always bail to the " +
        "direct scan (registerVersioned still works)")
    val layout = AggLayout(retract = false, keyCols, scale, kmvK)
    toVersionedSink(rows, checkpoint, targetDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      unresolveReplayedVersion(spark, targetDir, batchId)
      writeAggLayout(spark, targetDir, layout)
      // the batch's own partial, nothing else read or rewritten: a
      // replayed batch overwrites only its own subdirectory (the
      // partial is a pure function of the batch — idempotent)
      if (!batch.isEmpty)
        graft.ops.Cdc.aggSnapshotMinMax(batch, keyCols, measures, scale,
            distinctCols, kmvK, hllCols, hllLgK, distinctTuples, kllCols, kllK)
          .coalesce(filesPerBatch)
          .write.mode("overwrite").parquet(s"$targetDir/delta/batch=$batchId")
      // commitIndexVersion writes the cumulative _files manifest (what
      // MvRewrite.registerVersionedFresh's exactly-current tail
      // composition subtracts from; a missing file log writes none and
      // fresh bails — degraded, never wrong), then the v=<id>/_SUCCESS
      // marker LAST, then freshness + retention. An empty FIRST batch
      // commits nothing (a resolvable version with no delta layers
      // would make latestSnapshot read a nonexistent path — the same
      // guard the other sinks carry); after the first data lands, even
      // empty batches commit so coverage and freshness keep advancing.
      if (listBatchDirs(spark, targetDir, "delta").nonEmpty ||
          committedCompactions(spark, targetDir, "delta").nonEmpty)
        commitIndexVersion(spark, targetDir, checkpoint, batchId, retainVersions)
      maybeAutoCompact(spark, targetDir, "delta", keyCols, compactFiles,
        compactEvery, batchId, mergePartialsFor(layout, keepBatch = true),
        evolving = true, maxTail = maxTail)
    }
  }

  /** Maintain a file-skipping stats/fingerprint index
    * ([[graft.ops.Layout.statsIndexFingerprint]]'s shape) over a
    * GROWING directory, from the stream that watches it: per
    * microbatch, index rows are computed for ONLY the batch's files —
    * the file source's checkpoint log names them, so the refresh never
    * lists or diffs the directory — and land ONCE under
    * `stats/batch=<id>/` (the other maintained-index sinks' batch-dir
    * layout): nothing cumulative is ever rewritten — per-batch write
    * cost is the batch's OWN rows whatever the index has grown to,
    * where the pre-round-10 layout rewrote the whole unioned index
    * every microbatch (per-file bitmap rows x millions of files = a
    * rewrite that grows without bound). [[latestSkippingIndex]] (and
    * [[graft.plans.SkipRewrite]]'s versioned registration through it)
    * serves point lookups off the freshest committed version while
    * the table keeps growing; [[compactIndex]]`(…, "stats",
    * Seq("file"))` + [[vacuumIndex]] bound the batch-dir count.
    * Versioned/`_SUCCESS`-gated/replay-idempotent like the snapshot
    * sinks (a replayed batch overwrites its own subdirectory), with
    * the cumulative `_files` manifest + `_freshness` record so
    * [[freshnessLagOf]] counts the index's pending files. Append-only
    * contract: files removed by compaction of the BASE table need an
    * offline [[graft.ops.Layout.statsIndexUpdate]] rebuild (which also
    * drops deleted files); the stream itself only ever sees appends. */
  def skippingIndexSink(rows: DataFrame, targetDir: String,
                        checkpoint: String, cols: Seq[String],
                        fpCols: Seq[String] = Nil,
                        fpBits: Int = 1 << 17, fpHashes: Int = 4,
                        retainVersions: Int = 3, compactEvery: Int = 0,
                        compactFiles: Int = 8,
                        compactMaxTail: Int = -1): StreamingQuery = {
    require(cols.nonEmpty, "skippingIndexSink: no columns")
    require(retainVersions >= 2,
      "skippingIndexSink: must retain >= 2 versions (replay needs the predecessor)")
    val maxTail = resolvedMaxTail("skippingIndexSink", compactMaxTail,
      compactEvery)
    toVersionedSink(rows, checkpoint, targetDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      unresolveReplayedVersion(spark, targetDir, batchId)
      sourceBatchFiles(spark, checkpoint, batchId) match {
        case None =>
          // non-file or multi-source plan: file identity is unknown —
          // degrade loudly, write nothing (a wrong index prunes wrong)
          logWarning(s"skippingIndexSink: batch $batchId has no file log " +
            "under the checkpoint — no index version written")
        case Some(batchFiles) =>
          if (batchFiles.nonEmpty)
            graft.ops.Layout.indexForFiles(spark, batchFiles, cols,
                fpCols, fpBits, fpHashes)
              .coalesce(1) // one row per file — a batch's index is tiny
              .write.mode("overwrite").parquet(s"$targetDir/stats/batch=$batchId")
          // an empty FIRST batch commits nothing: there is no index yet.
          // After compaction + vacuum have folded every batch dir into a
          // generation, the index still EXISTS — an empty batch must
          // keep committing versions or the _freshness record stalls
          // and freshnessLagOf under-reports currency.
          if (batchFiles.nonEmpty ||
              listBatchDirs(spark, targetDir, "stats").nonEmpty ||
              committedCompactions(spark, targetDir, "stats").nonEmpty) {
            commitIndexVersion(spark, targetDir, checkpoint, batchId,
              retainVersions)
            maybeAutoCompact(spark, targetDir, "stats", Seq("file"),
              compactFiles, compactEvery, batchId, maxTail = maxTail)
          }
      }
    }
  }

  /** The maintained skipping index as of the freshest committed
    * [[skippingIndexSink]] version: per-batch stats rows `<= version`,
    * compaction-aware ([[maintainedBatchRows]]), `batch` provenance
    * dropped so the frame is shaped exactly like
    * [[graft.ops.Layout.statsIndexFingerprint]]'s output and feeds
    * `readPrunedEquals`/`filesForPredicates` unchanged. None before
    * the first committed version that indexed any file. */
  def latestSkippingIndex(spark: org.apache.spark.sql.SparkSession,
                          targetDir: String,
                          asOf: Option[Long] = None): Option[DataFrame] = {
    val vOpt = asOf match {
      case Some(_) => Some(resolveVersion(spark, targetDir, Seq("stats"),
        asOf, "Streams.latestSkippingIndex"))
      case None => snapshotVersions(spark, targetDir).sorted.lastOption
    }
    vOpt.flatMap { v =>
      val hasBatches = listBatchDirs(spark, targetDir, "stats").exists(_ <= v)
      val hasGen = committedCompactions(spark, targetDir, "stats").exists(_ <= v)
      if (!hasBatches && !hasGen) None
      else Some(maintainedBatchRows(spark, targetDir, "stats", v).drop("batch"))
    }
  }

  /** Maintain a [[graft.ops.TextAnalysis.bm25IndexBuild]]-shaped
    * retrieval index from the ingestion stream — ranked retrieval that
    * trails the corpus by one microbatch instead of a nightly
    * re-tokenize. Layout under `targetDir`:
    *
    *  - `postings/batch=<id>/`, `df/batch=<id>/` — each batch's
    *    (term, doc_id, tf, dl) rows and per-term df PARTIALS, written
    *    ONCE per batch (a replayed batch overwrites its own
    *    subdirectories — idempotent) and never rewritten after: the
    *    index of a 100 TB corpus only ever grows by the batch's own
    *    tokens, there is no cumulative rewrite anywhere (df is summed
    *    at read AFTER the query's term IN-list prunes, so the
    *    read-side cost is a few partial rows per queried term —
    *    bounded by generations + tail after compaction).
    *  - `v=<id>/stats` — the one-row corpus stats AS OF batch `id`
    *    (predecessor + this batch by integer addition — exact, the
    *    [[graft.ops.TextAnalysis.bm25IndexUpdate]] algebra), committed
    *    by a `v=<id>/_SUCCESS` marker written after every table so a
    *    torn version is never resolved.
    *
    * [[bm25SearchMaintained]] resolves the freshest committed version
    * and scores ONLY postings with `batch <= version` (partition-
    * pruned), so a crash between the postings write and the version
    * commit can never serve postings against mismatched stats.
    * Append-only contract like every incremental refresh here: a
    * doc_id arrives in exactly one batch. */
  def bm25IndexSink(rows: DataFrame, targetDir: String, checkpoint: String,
                    idCol: String, textCol: String,
                    retainVersions: Int = 3,
                    filesPerBatch: Int = 4,
                    compactEvery: Int = 0,
                    compactFiles: Int = 8,
                    compactMaxTail: Int = -1): StreamingQuery = {
    require(retainVersions >= 2,
      "bm25IndexSink: must retain >= 2 versions (replay needs the predecessor)")
    require(filesPerBatch > 0, "bm25IndexSink: filesPerBatch must be positive")
    val maxTail = resolvedMaxTail("bm25IndexSink", compactMaxTail,
      compactEvery)
    toVersionedSink(rows, checkpoint, targetDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      import org.apache.spark.sql.functions._
      unresolveReplayedVersion(spark, targetDir, batchId)
      val (postingsNew, dfNew, statsNew) = bm25Tables(batch, idCol, textCol)
      // term-cluster EACH batch's files (the bm25IndexBuild layout in
      // miniature): after thousands of batches a search's term IN-list
      // still prunes by per-file min/max instead of opening every
      // batch's every file
      postingsNew
        .repartitionByRange(filesPerBatch, col("term"))
        .sortWithinPartitions("term", "doc_id")
        .write.mode("overwrite").parquet(s"$targetDir/postings/batch=$batchId")
      val prev = snapshotVersions(spark, targetDir).filter(_ < batchId)
        .sorted.lastOption
      // df PARTIALS land per batch like the postings (summed at read,
      // where the query's term IN-list prunes first): rewriting the
      // merged per-term table every microbatch would be the cumulative
      // rewrite this layout exists to avoid — vocabulary is Heaps'-law
      // smaller than the corpus but still millions of rows. The one
      // stats row stays cumulative: merging one row is free.
      dfNew.coalesce(1).sortWithinPartitions("term")
        .write.mode("overwrite").parquet(s"$targetDir/df/batch=$batchId")
      val statsAll = prev match {
        case Some(v) =>
          spark.read.parquet(s"$targetDir/v=$v/stats").unionByName(statsNew)
            .agg(sum("n_docs").cast("long").as("n_docs"),
              sum("tot_dl").cast("long").as("tot_dl"))
        case None => statsNew
      }
      statsAll.write.mode("overwrite").parquet(s"$targetDir/v=$batchId/stats")
      // cumulative file-coverage manifest, same contract as
      // aggSnapshotSinkAppendOnly: freshnessLagOf(…, Some(base)) then
      // answers "how many corpus files does this retrieval index not
      // cover yet" as a count; missing file log (non-file or
      // multi-source plan) just writes nothing — lag stays knowable by
      // offsets, never wrong
      val prevManifest: Option[Seq[String]] = prev match {
        case Some(v) => snapshotManifest(spark, s"$targetDir/v=$v").map(_.toSeq)
        case None => Some(Nil)
      }
      val fs = new org.apache.hadoop.fs.Path(targetDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      for {
        pm <- prevManifest
        bf <- sourceBatchFiles(spark, checkpoint, batchId)
      } {
        val all = (pm ++ bf).distinct.sorted
        val out = fs.create(new org.apache.hadoop.fs.Path(
          s"$targetDir/v=$batchId/$ManifestFile"), true)
        try out.write(all.mkString("\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
      }
      // version marker LAST: both tables are durable before the version
      // becomes resolvable. The marker is the snapshot sinks' own
      // v=<id>/_SUCCESS convention (each TABLE's parquet _SUCCESS sits
      // one level deeper), so snapshotVersions / freshnessOf apply to
      // this target unchanged.
      fs.create(new org.apache.hadoop.fs.Path(
        s"$targetDir/v=$batchId/_SUCCESS"), true).close()
      bumpCommitEpoch(spark, targetDir)
      writeFreshness(spark, targetDir, checkpoint, batchId)
      snapshotVersions(spark, targetDir).sorted.dropRight(retainVersions)
        .foreach(v => fs.delete(
          new org.apache.hadoop.fs.Path(s"$targetDir/v=$v"), true))
      maybeAutoCompact(spark, targetDir, "postings", Seq("term"),
        compactFiles, compactEvery, batchId, maxTail = maxTail)
      maybeAutoCompact(spark, targetDir, "df", Seq("term"),
        math.max(1, compactFiles / 4), compactEvery, batchId,
        maxTail = maxTail)
    }
  }

  /** Batch retrieval off the freshest committed [[bm25IndexSink]]
    * version: postings partition-pruned to `batch <= version` AND the
    * query's term IN-list (pushed into the scan), df/stats from the
    * version's own tables — rankings equal
    * [[graft.ops.TextAnalysis.bm25BatchTopK]] over exactly the
    * documents the version covers, bit-for-bit (spec-pinned). `asOf`
    * time-travels the ranking to any retained version — "what did
    * retrieval serve before that batch landed" ([[snapshotAsOf]]'s
    * window contract: refuses below the oldest retained postings/df
    * generation). */
  def bm25SearchMaintained(spark: org.apache.spark.sql.SparkSession,
                           targetDir: String, queries: DataFrame, k: Int,
                           k1: Double = 1.2, b: Double = 0.75,
                           maxTerms: Int = 4096,
                           asOf: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    require(k > 0, "Streams.bm25SearchMaintained: k must be positive")
    val version = resolveVersion(spark, targetDir, Seq("postings", "df"),
      asOf, "Streams.bm25SearchMaintained")
    val (q, terms) = graft.ops.TextAnalysis.bm25QueryTerms(queries, maxTerms,
      "Streams.bm25SearchMaintained")
    val postings = maintainedBatchRows(spark, targetDir, "postings", version)
      .where(col("term").isin(terms: _*))
    // df partials: IN-list prune first, THEN sum — a queried term
    // touches a handful of partial rows, never the vocabulary
    val dft = maintainedBatchRows(spark, targetDir, "df", version)
      .where(col("term").isin(terms: _*))
      .groupBy("term").agg(sum("df").cast("long").as("df"))
    val stats = spark.read.parquet(s"$targetDir/v=$version/stats")
    graft.ops.TextAnalysis.bm25SearchTables(postings, dft, stats, q, k, k1, b)
  }

  /** The (postings, df, stats) tables of one document frame — the
    * tokenize pass shared by [[bm25IndexSink]]'s per-batch write and
    * [[bm25SearchFresh]]'s on-the-fly tail, so the fresh composition
    * uses the EXACT arithmetic a later ingest of the same files will. */
  private def bm25Tables(docs: DataFrame, idCol: String,
                         textCol: String): (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions._
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(graft.ops.TextAnalysis.tokens(col(textCol))).as("term"))
    val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    (tf.join(dl, "doc_id").select("term", "doc_id", "tf", "dl"),
      tf.groupBy("term").agg(count(lit(1)).as("df")),
      dl.agg(count(lit(1)).as("n_docs"),
        coalesce(sum("dl"), lit(0L)).as("tot_dl")))
  }

  /** [[bm25SearchMaintained]] composed with the NOT-yet-indexed tail:
    * base files the latest version's coverage manifest does not name
    * are tokenized on the fly (the sink's own arithmetic) and their
    * postings/df/doc-count merged in by the same integer addition the
    * next version commit would apply — a seconds-old document is
    * ranked EXACTLY as it will be once indexed, and the whole result
    * equals the one-shot batch pass over the full corpus bit-for-bit
    * (spec-pinned). Index lag can only cost the tail's tokenize (one
    * microbatch's files), never a missing document or a stale idf.
    * The [[graft.plans.MvRewrite.registerVersionedFresh]] /
    * [[ivfPqSearchFresh]] contract transplanted to ranked retrieval —
    * all four maintained derived artifacts now serve exactly-current
    * answers. Fails loudly when the version carries no manifest
    * (non-file or multi-source ingestion): fresh composition would be
    * a guess — gate on [[freshnessLagOf]] instead. `pin` switches the
    * read to a [[corpusPin]]-CONSISTENT one: the ranking covers
    * exactly the pinned file set — the newest retained version whose
    * coverage is contained in the pin (walking back when the index ran
    * ahead) plus the pin-only tail — so it composes consistently with
    * the other artifacts' reads at the same pin. */
  def bm25SearchFresh(spark: org.apache.spark.sql.SparkSession,
                      targetDir: String, baseDir: String,
                      queries: DataFrame, k: Int,
                      idCol: String = "doc_id", textCol: String = "text",
                      k1: Double = 1.2, b: Double = 0.75,
                      maxTerms: Int = 4096,
                      pin: Option[Seq[String]] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    require(k > 0, "Streams.bm25SearchFresh: k must be positive")
    def norm(p: String): String = new org.apache.hadoop.fs.Path(p).toString
    val (version, covered) = resolveFreshCoverage(spark, targetDir,
      Seq("postings", "df"), pin, "Streams.bm25SearchFresh")
    val liveOrPin = pin.map(_.map(norm))
      .getOrElse(spark.read.parquet(baseDir).inputFiles.map(norm).toSeq)
    if (pin.isEmpty) requireCoverageLive(covered.map(norm), liveOrPin.toSet,
      targetDir, "Streams.bm25SearchFresh")
    val tailFiles = liveOrPin.filterNot(covered).toIndexedSeq
    val (q, terms) = graft.ops.TextAnalysis.bm25QueryTerms(queries, maxTerms,
      "Streams.bm25SearchFresh")
    val basePostings = maintainedBatchRows(spark, targetDir, "postings", version)
      .select("term", "doc_id", "tf", "dl")
      .where(col("term").isin(terms: _*))
    val dftV = maintainedBatchRows(spark, targetDir, "df", version)
      .select("term", "df").where(col("term").isin(terms: _*))
    val statsV = spark.read.parquet(s"$targetDir/v=$version/stats")
    if (tailFiles.isEmpty)
      graft.ops.TextAnalysis.bm25SearchTables(basePostings,
        dftV.groupBy("term").agg(sum("df").cast("long").as("df")),
        statsV, q, k, k1, b)
    else {
      val (tailPostings, dfNew, statsNew) = bm25Tables(
        spark.read.parquet(tailFiles: _*), idCol, textCol)
      val postings = basePostings.unionByName(
        tailPostings.where(col("term").isin(terms: _*)))
      // merge df/doc-stats by the version commit's own integer algebra
      val dft = dftV.unionByName(dfNew.where(col("term").isin(terms: _*)))
        .groupBy("term").agg(sum("df").cast("long").as("df"))
      val stats = statsV.unionByName(statsNew)
        .agg(sum("n_docs").cast("long").as("n_docs"),
          sum("tot_dl").cast("long").as("tot_dl"))
      graft.ops.TextAnalysis.bm25SearchTables(postings, dft, stats, q, k, k1, b)
    }
  }

  /** Maintain the assignments half of a persisted IVF×PQ ANN index
    * ([[graft.ops.Similarity.ivfPqBuild]]'s (neighbor_id, cell_id,
    * codes) table) from the ingestion stream — the third leg of the
    * derived-artifact trilogy (file-skipping: [[skippingIndexSink]];
    * ranked retrieval: [[bm25IndexSink]]): a vector becomes searchable
    * one microbatch after it lands instead of on a nightly re-encode.
    * Trained state (coarse centroids + PQ codebooks) is FROZEN and
    * loaded once from its persisted form at sink construction — the
    * standard IVF serving contract; drift-triggered re-centering is
    * [[ivfStatsSink]] / `ivfReseed`'s separate concern. Layout under
    * `targetDir`:
    *
    *  - `assign/batch=<id>/` — the batch's encoded rows,
    *    cell-range-clustered so a search's probed-cell IN-list prunes
    *    files by min/max stats; written ONCE per batch (a replayed
    *    batch overwrites its own subdirectory — idempotent) and never
    *    rewritten after: a 100 TB corpus's index only ever grows by
    *    the batch's own m-int codes, there is no cumulative rewrite
    *    anywhere.
    *  - `v=<id>/_SUCCESS` (+ `_files` coverage manifest, `_freshness`)
    *    — commits "batches `<= id` fully written";
    *    [[ivfPqSearchMaintained]] scores only `batch <= version`, so a
    *    crash between the assignment write and the version commit can
    *    never serve a torn index.
    *
    * Append-only contract like every incremental refresh here: a
    * vec_id arrives in exactly one batch; targeted deletion is
    * [[graft.ops.Similarity.ivfPqIndexDelete]] offline. */
  def ivfPqIndexSink(rows: DataFrame, targetDir: String, checkpoint: String,
                     centroidsDir: String, codebooksDir: String,
                     idCol: String = "vec_id", embCol: String = "embedding",
                     dim: Int = 64, retainVersions: Int = 3,
                     filesPerBatch: Int = 2, compactEvery: Int = 0,
                     compactFiles: Int = 8,
                     compactMaxTail: Int = -1): StreamingQuery = {
    require(retainVersions >= 2,
      "ivfPqIndexSink: must retain >= 2 versions (replay needs the predecessor)")
    require(filesPerBatch > 0, "ivfPqIndexSink: filesPerBatch must be positive")
    val maxTail = resolvedMaxTail("ivfPqIndexSink", compactMaxTail,
      compactEvery)
    val session = rows.sparkSession
    val (cellS, cellN) = graft.ops.Similarity.loadIvfCentroids(session, centroidsDir)
    val (pqS, pqN) = graft.ops.Similarity.loadPqCodebooks(session, codebooksDir)
    toVersionedSink(rows, checkpoint, targetDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      import org.apache.spark.sql.functions.col
      unresolveReplayedVersion(spark, targetDir, batchId)
      graft.ops.Similarity.ivfPqEncode(
          batch.select(col(idCol).as("vec_id"), col(embCol).as("embedding")),
          cellS, cellN, pqS, pqN, dim)
        .repartitionByRange(filesPerBatch, col("cell_id"))
        .sortWithinPartitions("cell_id", "neighbor_id")
        .write.mode("overwrite").parquet(s"$targetDir/assign/batch=$batchId")
      commitIndexVersion(spark, targetDir, checkpoint, batchId, retainVersions)
      maybeAutoCompact(spark, targetDir, "assign", Seq("cell_id"),
        compactFiles, compactEvery, batchId, maxTail = maxTail)
    }
  }

  /** ANN search off the freshest committed [[ivfPqIndexSink]] version:
    * assignments partition-pruned to `batch <= version` AND the
    * queries' probed-cell IN-list (computed driver-side by the exact
    * probe ordering, pushed into the scan where the cell-clustered
    * layout prunes files), frozen state reloaded from its persisted
    * form — results equal [[graft.ops.Similarity.ivfPqSearch]] over a
    * one-shot encode of exactly the documents the version covers,
    * bit-for-bit (spec-pinned). `corpus` is consulted only for the
    * shortlist's exact integer rescore. Queries are collected to
    * compute the IN-list — they are a top-k request set, bounded by
    * construction (the search broadcasts them regardless);
    * `maxQueries` makes the bound loud. */
  def ivfPqSearchMaintained(spark: org.apache.spark.sql.SparkSession,
                            targetDir: String, centroidsDir: String,
                            codebooksDir: String, queries: DataFrame,
                            corpus: DataFrame, topK: Int, nProbe: Int = 4,
                            dim: Int = 64, rescore: Int = 4,
                            maxQueries: Int = 4096,
                            asOf: Option[Long] = None): DataFrame = {
    val (indexed, cellS, cellN, pqS, pqN) = ivfPqMaintainedIndex(
      spark, targetDir, centroidsDir, codebooksDir, queries, nProbe, dim,
      maxQueries, "Streams.ivfPqSearchMaintained", asOf)
    graft.ops.Similarity.ivfPqSearch(queries, corpus, indexed,
      cellS, cellN, pqS, pqN, topK, nProbe, dim, rescore)
  }

  /** [[ivfPqSearchMaintained]] composed with the NOT-yet-encoded tail:
    * base files the latest version's coverage manifest does not name
    * are encoded on the fly under the same frozen state and unioned
    * into the candidate set — a seconds-old vector is still found,
    * index lag can only cost the tail's encode (one microbatch's
    * files), never a missing neighbor. The [[graft.plans.MvRewrite
    * .registerVersionedFresh]] contract transplanted to ANN serving.
    * Fails loudly when the version carries no manifest (non-file or
    * multi-source ingestion) — fresh composition would be a guess.
    * `pin` switches the read to a [[corpusPin]]-CONSISTENT one: the
    * candidate set AND the rescore corpus cover exactly the pinned
    * file set — a vector that landed after the pin (even one already
    * indexed) is invisible. */
  def ivfPqSearchFresh(spark: org.apache.spark.sql.SparkSession,
                       targetDir: String, centroidsDir: String,
                       codebooksDir: String, baseDir: String,
                       queries: DataFrame, topK: Int, nProbe: Int = 4,
                       dim: Int = 64, rescore: Int = 4,
                       idCol: String = "vec_id", embCol: String = "embedding",
                       maxQueries: Int = 4096,
                       pin: Option[Seq[String]] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    def norm(p: String): String = new org.apache.hadoop.fs.Path(p).toString
    // resolve (version, coverage) ONCE and pin the index read to that
    // version — resolving twice would let a concurrent sink commit
    // land between the two, pairing candidates-at-v1 with
    // coverage-of-v2 and silently dropping vectors indexed only in v2
    // from both the index read and the tail
    val (version, covered) = resolveFreshCoverage(spark, targetDir,
      Seq("assign"), pin, "Streams.ivfPqSearchFresh")
    val (indexed, cellS, cellN, pqS, pqN) = ivfPqMaintainedIndex(
      spark, targetDir, centroidsDir, codebooksDir, queries, nProbe, dim,
      maxQueries, "Streams.ivfPqSearchFresh", Some(version))
    val baseFiles = pin.map(_.map(norm).toSeq)
    // pinned read: the rescore corpus is the pinned files only — the
    // full baseDir could hold a re-ingested vec_id whose newer vector
    // would silently rescore a pre-pin candidate
    val base = baseFiles.map(fs => spark.read.parquet(fs: _*))
      .getOrElse(spark.read.parquet(baseDir))
      .select(col(idCol).as("vec_id"), col(embCol).as("embedding"))
    val liveOrPin = baseFiles
      .getOrElse(spark.read.parquet(baseDir).inputFiles.map(norm).toSeq)
    if (pin.isEmpty) requireCoverageLive(covered.map(norm), liveOrPin.toSet,
      targetDir, "Streams.ivfPqSearchFresh")
    val tailFiles = liveOrPin.filterNot(covered).toSeq
    val withTail =
      if (tailFiles.isEmpty) indexed
      else indexed.unionByName(graft.ops.Similarity.ivfPqEncode(
        spark.read.parquet(tailFiles: _*)
          .select(col(idCol).as("vec_id"), col(embCol).as("embedding")),
        cellS, cellN, pqS, pqN, dim))
    // the base holds every vector (indexed + tail), so it IS the
    // rescore corpus — full vectors are still touched only for the
    // shortlist
    graft.ops.Similarity.ivfPqSearch(queries, base, withTail,
      cellS, cellN, pqS, pqN, topK, nProbe, dim, rescore)
  }

  /** Shared resolution for the maintained-ANN search paths: freshest
    * committed version, reloaded frozen state, and the assignments
    * scan pruned to `batch <= version` plus the queries' probed-cell
    * IN-list. */
  private def ivfPqMaintainedIndex(spark: org.apache.spark.sql.SparkSession,
                                   targetDir: String, centroidsDir: String,
                                   codebooksDir: String, queries: DataFrame,
                                   nProbe: Int, dim: Int, maxQueries: Int,
                                   caller: String,
                                   asOf: Option[Long] = None):
      (DataFrame, Array[Array[Long]], Array[Long],
       Array[Array[Array[Long]]], Array[Array[Long]]) = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val version = resolveVersion(spark, targetDir, Seq("assign"), asOf, caller)
    val (cellS, cellN) = graft.ops.Similarity.loadIvfCentroids(spark, centroidsDir)
    val (pqS, pqN) = graft.ops.Similarity.loadPqCodebooks(spark, codebooksDir)
    // bounded BEFORE collecting: limit(maxQueries+1) caps what can ever
    // reach the driver, and one extra row is enough to tell "too many"
    val qRows = queries.select(col("vec_id").cast("long"), col("embedding"))
      .limit(maxQueries + 1)
      .as[(Long, Array[Float])].collect() // bounded: the top-k request set
    require(qRows.length <= maxQueries,
      s"$caller: more than $maxQueries queries — " +
        "raise maxQueries explicitly for a batch this large")
    val cells = qRows.toSeq.flatMap { case (_, v) =>
      graft.ops.Similarity.probeCellsOf(
        graft.ops.Similarity.quantizeVec(v, dim), cellS, cellN, nProbe)
    }.distinct.sorted
    val indexed = maintainedBatchRows(spark, targetDir, "assign", version)
      .where(col("cell_id").isin(cells: _*))
      .select("neighbor_id", "cell_id", "codes")
    (indexed, cellS, cellN, pqS, pqN)
  }

  /** Maintain a persistable LSH dedup index ([[graft.ops.Dedup
    * .buildLshIndex]]'s (id, sig, shset) shape) from the ingestion
    * stream — the fourth maintained derived artifact (file-skipping,
    * BM25 retrieval, IVF×PQ ANN, and now near-dup): "which docs in
    * today's crawl near-duplicate the corpus" stays answerable while
    * the corpus grows, without ever re-shingling it. Per microbatch,
    * ONLY the batch's rows are signed (one narrow pass — signatures
    * are a pure per-row function, so the streamed index equals a
    * one-shot [[graft.ops.Dedup.buildLshIndex]] row-for-row) and land
    * under `index/batch=<id>/`; `v=<id>/_SUCCESS` (+ `_files`
    * manifest, `_freshness`) commits coverage exactly like the other
    * index sinks, and [[nearDupsMaintained]] probes only
    * `batch <= version` so torn writes are never served. Append-only
    * contract: a doc id arrives in exactly one batch. */
  def lshIndexSink(rows: DataFrame, targetDir: String, checkpoint: String,
                   idCol: String, shingleCol: String,
                   retainVersions: Int = 3,
                   filesPerBatch: Int = 1, compactEvery: Int = 0,
                   compactFiles: Int = 8,
                   compactMaxTail: Int = -1): StreamingQuery = {
    require(retainVersions >= 2,
      "lshIndexSink: must retain >= 2 versions (replay needs the predecessor)")
    require(filesPerBatch > 0, "lshIndexSink: filesPerBatch must be positive")
    val maxTail = resolvedMaxTail("lshIndexSink", compactMaxTail,
      compactEvery)
    toVersionedSink(rows, checkpoint, targetDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      unresolveReplayedVersion(spark, targetDir, batchId)
      graft.ops.Dedup.buildLshIndex(batch, idCol, shingleCol)
        .coalesce(filesPerBatch)
        .write.mode("overwrite").parquet(s"$targetDir/index/batch=$batchId")
      commitIndexVersion(spark, targetDir, checkpoint, batchId, retainVersions)
      maybeAutoCompact(spark, targetDir, "index", Seq(idCol),
        compactFiles, compactEvery, batchId, maxTail = maxTail)
    }
  }

  /** Near-duplicates of an incremental `batch` against the freshest
    * committed [[lshIndexSink]] version — [[graft.ops.Dedup
    * .nearDupsAgainstIndex]]'s steady-state ingest shape served off
    * the maintained index: the batch's banded slices broadcast, the
    * corpus index scans in place (pruned to `batch <= version`) and
    * never shuffles. Results equal the one-shot form over exactly the
    * documents the version covers, bit-for-bit (spec-pinned); gate on
    * [[freshnessLagOf]] when index lag matters. */
  def nearDupsMaintained(spark: org.apache.spark.sql.SparkSession,
                         targetDir: String, batch: DataFrame, idCol: String,
                         shingleCol: String, threshold: Double,
                         broadcastBatch: Boolean = true,
                         asOf: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    val version = resolveVersion(spark, targetDir, Seq("index"), asOf,
      "Streams.nearDupsMaintained")
    val index = maintainedBatchRows(spark, targetDir, "index", version)
      .select(idCol, "sig", "shset")
    graft.ops.Dedup.nearDupsAgainstIndex(index, batch, idCol, shingleCol,
      threshold, broadcastBatch)
  }

  /** [[nearDupsMaintained]] composed with the NOT-yet-signed tail:
    * base files the latest version's coverage manifest does not name
    * are signed on the fly ([[graft.ops.Dedup.buildLshIndex]] — a pure
    * per-row function, so the composition equals a one-shot index over
    * the full base bit-for-bit) and unioned into the probe's index. A
    * document that landed seconds ago still blocks its duplicates —
    * the exactly-current contract the other maintained artifacts give,
    * closed for near-dup too. Fails loudly when the version carries no
    * manifest (non-file or multi-source ingestion). `pin` switches the
    * read to a [[corpusPin]]-CONSISTENT one: candidates come from
    * exactly the pinned file set — a document that landed after the
    * pin (even one already indexed) never blocks, matching what the
    * other artifacts' reads at the same pin see. */
  def nearDupsFresh(spark: org.apache.spark.sql.SparkSession,
                    targetDir: String, baseDir: String, batch: DataFrame,
                    idCol: String, shingleCol: String, threshold: Double,
                    broadcastBatch: Boolean = true,
                    pin: Option[Seq[String]] = None): DataFrame = {
    def norm(p: String): String = new org.apache.hadoop.fs.Path(p).toString
    val (version, covered) = resolveFreshCoverage(spark, targetDir,
      Seq("index"), pin, "Streams.nearDupsFresh")
    val liveOrPin = pin.map(_.map(norm))
      .getOrElse(spark.read.parquet(baseDir).inputFiles.map(norm).toSeq)
    if (pin.isEmpty) requireCoverageLive(covered.map(norm), liveOrPin.toSet,
      targetDir, "Streams.nearDupsFresh")
    val tailFiles = liveOrPin.filterNot(covered).toIndexedSeq
    val indexed = maintainedBatchRows(spark, targetDir, "index", version)
      .select(idCol, "sig", "shset")
    val index =
      if (tailFiles.isEmpty) indexed
      else indexed.unionByName(graft.ops.Dedup.buildLshIndex(
        spark.read.parquet(tailFiles: _*).select(idCol, shingleCol),
        idCol, shingleCol))
    graft.ops.Dedup.nearDupsAgainstIndex(index, batch, idCol, shingleCol,
      threshold, broadcastBatch)
  }

  /** Targeted deletion from a MAINTAINED [[lshIndexSink]] target — the
    * fourth right-to-be-forgotten leg (corpus:
    * [[graft.ops.Layout.targetedDelete]]; BM25 postings:
    * [[graft.ops.TextAnalysis.bm25IndexDelete]]; ANN assignments:
    * [[graft.ops.Similarity.ivfPqIndexDelete]]): a forgotten document's
    * MinHash signatures persist in the index's batch dirs AND in
    * compacted generations, and either copy keeps producing candidate
    * pairs. Compaction-aware by construction: every on-disk LAYER —
    * each `index/batch=<id>` dir and each committed
    * `compact/index/c=<id>` generation — is probed for the doomed ids
    * (one column-pruned scan per layer) and ONLY the layers that
    * contain one are rewritten without those rows; untouched layers
    * stay byte-identical, commit markers are untouched, so versions
    * keep resolving and searches probe the same layers minus the
    * forgotten signatures. Returns the number of layers rewritten.
    * Offline-maintenance contract like its three siblings (the swap is
    * write-new/delete/rename): run it without a concurrent reader of
    * the same target. Order with the corpus delete: corpus first, then
    * this — [[nearDupsFresh]] would otherwise re-sign the doc from the
    * un-indexed base tail. */
  def lshIndexDelete(spark: org.apache.spark.sql.SparkSession,
                     targetDir: String, idCol: String, ids: Seq[Long],
                     maxValues: Int = 1024): Int = {
    require(ids.nonEmpty, "Streams.lshIndexDelete: no ids")
    require(ids.length <= maxValues,
      s"Streams.lshIndexDelete: ${ids.length} ids exceeds $maxValues — " +
        "a deletion set that large is a rebuild, not an index op")
    scrubLayers(spark, targetDir, "index", idCol, ids)
  }

  /** Targeted deletion from a partials-layout agg-snapshot target
    * ([[aggSnapshotSink]] / [[aggSnapshotSinkAppendOnly]]) — the FIFTH
    * right-to-be-forgotten leg, completing the set (corpus, BM25
    * postings, ANN assignments, LSH signatures): a maintained per-user
    * MV keeps serving a forgotten user's GROUP forever, because no
    * retraction ever arrives for keys the stream has stopped carrying.
    * `keyCol` must be one of the snapshot's key columns (the `_layout`
    * marker's `keys`): this forgets whole snapshot GROUPS — every
    * partial row whose key matches, in every `delta/batch=<id>` layer
    * AND every committed `compact/delta/c=<id>` generation, rewritten
    * via the shared staged two-rename swap (crash-recoverable,
    * listings never poisoned). Untouched layers stay byte-identical;
    * commit markers are untouched, so versions keep resolving and
    * [[latestSnapshot]] / MvRewrite navigation fold the surviving
    * partials — the deleted groups simply vanish, exactly as if the
    * snapshot had been rebuilt without them.
    *
    * Scope contract: removing one key's whole group IS the GDPR shape
    * when the key identifies the data subject (per-user/per-doc MVs).
    * Removing a subject's CONTRIBUTION to other-keyed aggregates is
    * arithmetic, not deletion — feed retraction rows through the ±op
    * sink (its algebra exists for exactly that), or rebuild. Order
    * with the base-table delete: base first
    * ([[graft.ops.Layout.targetedDelete]]), then this — a later full
    * rebuild must not resurrect the groups. Offline-maintenance
    * contract like its four siblings: run without a concurrent reader
    * of the same target. Returns the number of layers rewritten. */
  def snapshotDelete(spark: org.apache.spark.sql.SparkSession,
                     targetDir: String, keyCol: String, values: Seq[Any],
                     maxValues: Int = 1024): Int = {
    val layout = aggLayoutOf(spark, targetDir).getOrElse(
      throw new IllegalStateException(
        s"Streams.snapshotDelete: $targetDir has no _layout marker — not a " +
          "partials-layout agg-snapshot target (lshIndexDelete / " +
          "bm25IndexDelete / ivfPqIndexDelete handle the index sinks; " +
          "Layout.targetedDelete handles raw tables)"))
    require(layout.keys.contains(keyCol),
      s"Streams.snapshotDelete: '$keyCol' is not a snapshot key of " +
        s"$targetDir (keys: ${layout.keys.mkString(", ")}) — only whole " +
        "groups can be forgotten; contribution removal is a retraction, " +
        "not a deletion")
    require(values.nonEmpty, "Streams.snapshotDelete: no values")
    require(values.length <= maxValues,
      s"Streams.snapshotDelete: ${values.length} values exceeds $maxValues — " +
        "a deletion set that large is a rebuild, not an index op")
    scrubLayers(spark, targetDir, "delta", keyCol, values)
  }

  /** Targeted deletion from a MAINTAINED [[ivfPqIndexSink]] target —
    * the streamed twin of [[graft.ops.Similarity.ivfPqIndexDelete]]
    * (which serves the one-shot flat-directory layout): a forgotten
    * vector's PQ codes persist in the `assign/` batch dirs AND in
    * compacted generations, and codes reconstruct the vector to
    * quantization error — content, not just an id. Assignments carry
    * no cross-row statistics (unlike BM25's df/doc-stats algebra), so
    * removing the rows IS the complete fix: searches simply stop
    * surfacing the id, and rescoring never sees it once the corpus
    * leg has run. Same compaction-aware staged-swap scrub, same
    * offline-maintenance contract as its siblings. Returns the number
    * of layers rewritten. */
  def annIndexDelete(spark: org.apache.spark.sql.SparkSession,
                     targetDir: String, ids: Seq[Long],
                     maxValues: Int = 1024): Int = {
    require(ids.nonEmpty, "Streams.annIndexDelete: no ids")
    require(ids.length <= maxValues,
      s"Streams.annIndexDelete: ${ids.length} ids exceeds $maxValues — " +
        "a deletion set that large is a rebuild, not an index op")
    scrubLayers(spark, targetDir, "assign", "neighbor_id", ids)
  }

  /** Targeted deletion from a MAINTAINED [[bm25IndexSink]] target —
    * the streamed twin of [[graft.ops.TextAnalysis.bm25IndexDelete]]:
    * scrub the forgotten docs' postings (term → doc_id rows ARE the
    * document's content) from every `postings/` layer and generation,
    * AND keep the scoring algebra equal to a rebuilt index by
    * decrementing the per-batch `df/` partials (each term the doc
    * carried in batch b decrements that batch's df row; a generation
    * folds batches ≤ c, so it takes the summed decrements ≤ c joined
    * on its STORED batch column) and each retained version's
    * cumulative `v=<v>/stats` row (minus the doomed docs with
    * batch ≤ v).
    *
    * CRASH SAFETY: the decrements are computed from the live postings
    * and PERSISTED under `.bm25_delete/` (committed by a marker)
    * BEFORE the first byte is scrubbed — once postings are gone the
    * decrements are unrecoverable, so a re-run after a crash resumes
    * from the persisted set instead of recomputing from scrubbed
    * layers (which would silently skip the df/stats fix). Per-layer
    * and per-version `applied_*` markers make the arithmetic
    * exactly-once across re-runs (re-filtering postings is naturally
    * idempotent; re-subtracting df is not). Offline-maintenance
    * contract like its siblings. Returns layers rewritten
    * (postings + df + stats). */
  def bm25IndexDelete(spark: org.apache.spark.sql.SparkSession,
                      targetDir: String, ids: Seq[Any],
                      maxValues: Int = 1024): Int = {
    import org.apache.spark.sql.functions.{coalesce, col, count, lit, sum}
    require(ids.nonEmpty, "Streams.bm25IndexDelete: no ids")
    require(ids.length <= maxValues,
      s"Streams.bm25IndexDelete: ${ids.length} ids exceeds $maxValues — " +
        "a deletion set that large is a rebuild, not an index op")
    val fs = new org.apache.hadoop.fs.Path(targetDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val staging = s"$targetDir/.bm25_delete"
    val committedMark = p(s"$staging/_COMMITTED")
    val versions = snapshotVersions(spark, targetDir).sorted
    require(versions.nonEmpty,
      s"Streams.bm25IndexDelete: $targetDir has no committed version — " +
        "not a maintained BM25 target")
    // self-heal a crashed stats swap before anything reads stats: a
    // missing stats dir restores the aside; a LINGERING aside next to a
    // live stats dir (crash between the final rename and the delete) is
    // dropped — left in place it would fail the next delete's
    // rename(stats, .stats_old) and silently skip that delete's
    // decrement while the return value still counted it
    versions.foreach { v =>
      val statsDir = p(s"$targetDir/v=$v/stats")
      val aside = p(s"$targetDir/v=$v/.stats_old")
      if (!fs.exists(statsDir) && fs.exists(aside)) {
        if (!fs.rename(aside, statsDir)) throw new IllegalStateException(
          s"Streams.bm25IndexDelete: could not restore $aside to $statsDir " +
            "(crashed swap self-heal) — fix the filesystem state before " +
            "deleting")
      } else if (fs.exists(statsDir) && fs.exists(aside))
        fs.delete(aside, true)
    }
    // the caller's id set, rendered canonically — persisted alongside
    // the decrements so a crashed run can only be RESUMED with the
    // same set: resuming with different ids would scrub the new ids'
    // postings while applying the OLD ids' df/stats decrements —
    // silent algebra corruption in both directions
    val idsRendered = ids.map(String.valueOf).sorted.mkString("\n")
    if (!fs.exists(committedMark)) {
      fs.delete(p(staging), true)
      // ALL on-disk layers with batch provenance (generations store
      // the batch column; raw dirs partition-encode it). ONE pass over
      // the postings — the most expensive read of the whole operation
      // — serves the emptiness probe and both decrement aggregates
      // (bounded: ≤ maxValues docs' postings rows by contract)
      val doomed = maintainedBatchRows(spark, targetDir, "postings",
          Long.MaxValue)
        .filter(col("doc_id").isin(ids: _*))
        .localCheckpoint(true)
      if (doomed.isEmpty) return 0
      doomed.groupBy("batch", "term").agg(count(lit(1)).cast("long").as("ddf"))
        .write.mode("overwrite").parquet(s"$staging/df_del")
      doomed.select("batch", "doc_id", "dl").distinct()
        .groupBy("batch").agg(count(lit(1)).cast("long").as("dn"),
          sum("dl").cast("long").as("ddl"))
        .write.mode("overwrite").parquet(s"$staging/stats_del")
      val out = fs.create(p(s"$staging/_ids"), true)
      try out.write(idsRendered.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      fs.create(committedMark, true).close()
    } else {
      bm25PendingIds(spark, targetDir) match {
        case Some(pending) =>
          require(pending == idsRendered,
            s"Streams.bm25IndexDelete: $targetDir has a crashed delete " +
              s"pending for a DIFFERENT id set — re-run with ids " +
              s"[${pending.linesIterator.mkString(", ")}] to complete it " +
              "first, then delete the new set")
        case None => throw new IllegalStateException(
          s"Streams.bm25IndexDelete: $targetDir carries a committed " +
            ".bm25_delete staging without an id record — an unknown " +
            "crashed delete. Its persisted decrements cannot be verified " +
            "against this call's ids; discarding the staging dir would " +
            "lose decrements for postings already scrubbed (silent " +
            "df/stats drift). Inspect .bm25_delete/df_del to identify " +
            "the pending docs, or rebuild the index")
      }
    }
    // resumable from here: the postings scrub is naturally idempotent
    // (re-filtering removes nothing new); the df/stats arithmetic is
    // NOT, so each adjusted layer carries an id-set-specific STAMP
    // installed atomically WITH the rewrite (rewriteLayers puts it
    // inside the replacement dir before the swap — a marker written
    // after the swap would leave a crash window where a resume
    // re-subtracts)
    val scrubbed = scrubLayers(spark, targetDir, "postings", "doc_id", ids)
    val dfDel = spark.read.parquet(s"$staging/df_del")
    val stampName =
      s"_bm25del_${graft.ops.Dedup.strHash64(idsRendered).toHexString}"
    val dfAdjusted = rewriteLayers(spark, targetDir, "df",
        stamp = Some(stampName)) {
      ref =>
        if (fs.exists(p(s"${ref.dir}/$stampName"))) None
        else {
          val layer = spark.read.parquet(ref.dir)
          val adjusted =
            if (ref.isGeneration) {
              if (dfDel.filter(col("batch") <= ref.id).isEmpty) None
              else {
                val dec = dfDel.select(col("batch").as("__b"),
                  col("term").as("__t"), col("ddf"))
                Some(layer
                  .join(dec, layer("batch") === col("__b") &&
                    layer("term") === col("__t"), "left")
                  .select(layer("term"), layer("batch"),
                    (layer("df") - coalesce(col("ddf"), lit(0L)))
                      .cast("long").as("df"))
                  .filter(col("df") > 0))
              }
            } else {
              val dec = dfDel.filter(col("batch") === ref.id)
                .select(col("term"), col("ddf"))
              if (dec.isEmpty) None
              else Some(layer.join(dec, Seq("term"), "left")
                .select(col("term"),
                  (col("df") - coalesce(col("ddf"), lit(0L)))
                    .cast("long").as("df"))
                .filter(col("df") > 0))
            }
          adjusted
        }
    }
    val statsDel = spark.read.parquet(s"$staging/stats_del")
    var statsAdjusted = 0
    versions.foreach { v =>
      val statsDir = s"$targetDir/v=$v/stats"
      // the stamp lives INSIDE the stats dir and swaps in atomically
      // with the adjusted row — same exactly-once shape as the layers
      if (!fs.exists(p(s"$statsDir/$stampName"))) {
        val dRow = statsDel.filter(col("batch") <= v)
          .agg(coalesce(sum("dn"), lit(0L)).as("dn"),
            coalesce(sum("ddl"), lit(0L)).as("ddl")).head
        if (dRow.getLong(0) > 0 || dRow.getLong(1) > 0) {
          spark.read.parquet(statsDir)
            .select((col("n_docs") - dRow.getLong(0)).cast("long").as("n_docs"),
              (col("tot_dl") - dRow.getLong(1)).cast("long").as("tot_dl"))
            .write.mode("overwrite").parquet(s"$targetDir/v=$v/.stats_new")
          fs.create(p(s"$targetDir/v=$v/.stats_new/$stampName"), true).close()
          // every rename checked: a silent false would leave the
          // decrement unapplied while the return value counted it
          if (!fs.rename(p(statsDir), p(s"$targetDir/v=$v/.stats_old")))
            throw new IllegalStateException(
              s"Streams.bm25IndexDelete: could not set $statsDir aside — " +
                "stats swap aborted before any mutation of this version " +
                "(re-run to resume)")
          if (!fs.rename(p(s"$targetDir/v=$v/.stats_new"), p(statsDir)))
            throw new IllegalStateException(
              s"Streams.bm25IndexDelete: could not install the adjusted " +
                s"stats at $statsDir — the original is aside at .stats_old " +
                "and the next run's self-heal restores it (re-run to resume)")
          fs.delete(p(s"$targetDir/v=$v/.stats_old"), true)
          spark.catalog.refreshByPath(statsDir)
          statsAdjusted += 1
        }
      }
    }
    fs.delete(p(staging), true)
    scrubbed + dfAdjusted + statsAdjusted
  }

  /** The id record of a committed-but-unfinished [[bm25IndexDelete]]
    * under `targetDir/.bm25_delete` — None when no `_ids` record
    * exists (callers check the `_COMMITTED` marker themselves). */
  private def bm25PendingIds(spark: org.apache.spark.sql.SparkSession,
                             targetDir: String): Option[String] = {
    val idsP = new org.apache.hadoop.fs.Path(s"$targetDir/.bm25_delete/_ids")
    val fs = idsP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(idsP)) None
    else {
      val in = fs.open(idsP)
      try Some(new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  /** The report of one [[forget]] leg: which target, what kind of
    * artifact its markers identified it as, and how many on-disk
    * layers were rewritten. */
  final case class ForgetReport(target: String, kind: String,
                                layersRewritten: Int)

  /** ONE-CALL right-to-be-forgotten across a corpus's maintained
    * artifacts — the GDPR story as a single call with a single report.
    * Each target classifies ITSELF by its on-disk self-description
    * (the [[maintainArtifact]] discipline): a `_merge` marker is a
    * merge-on-read table ([[tableDelete]] — rows + changelog history),
    * a `_layout` marker a partials-layout agg snapshot
    * ([[snapshotDelete]] — whole groups), `postings/` layers a
    * maintained BM25 index ([[bm25IndexDelete]] — postings scrubbed,
    * df/stats algebra kept equal to a rebuild), `assign/` layers a
    * maintained ANN index ([[annIndexDelete]]), `index/` layers a
    * maintained LSH index ([[lshIndexDelete]]). Every target's kind —
    * and, for the keyed kinds, that `keyCol` is actually one of its
    * keys — is validated BEFORE the first byte is rewritten, so an
    * unrecognizable target fails the whole call with nothing
    * half-forgotten.
    *
    * The RAW corpus directory is a first-class leg too: a target that
    * carries no artifact markers but has a
    * [[graft.plans.SkipRewrite]] registration (the engine's own
    * record of "this directory has a skipping index") classifies as
    * `corpus` and runs [[graft.ops.Layout.targetedDeleteInPlace]] —
    * PATH-STABLE, so every derived artifact's coverage manifest stays
    * valid verbatim, the artifacts' file sources see nothing new when
    * their sinks resume (no survivor re-ingest), and the fresh
    * readers' mutation guard never trips. Corpus legs always run
    * FIRST, whatever order `targets` lists them in, so a
    * fresh-composition read after the call cannot re-derive the
    * forgotten rows from the un-indexed base tail. The registered
    * index must fingerprint `keyCol` (validated before any byte
    * moves); a [[graft.plans.SkipRewrite.register]]ed on-disk index
    * gets the rewritten files' rows re-derived in place (exact, not
    * just sound); a VERSIONED registration's layers keep
    * pre-rewrite stats, which remain SOUND (over-approximate pruning
    * only — deleted values' fingerprint bits cost false-positive file
    * probes, never a miss).
    *
    * `keyCol` names the subject key for the corpus/table/snapshot/LSH
    * legs; BM25 and ANN key by their own fixed id columns (`doc_id` /
    * `neighbor_id`) and interpret `values` as those ids.
    * Offline-maintenance contract like every leg. */
  def forget(spark: org.apache.spark.sql.SparkSession, keyCol: String,
             values: Seq[Any], targets: Seq[String],
             maxValues: Int = 1024): Seq[ForgetReport] = {
    require(targets.nonEmpty, "Streams.forget: no targets")
    require(values.nonEmpty, "Streams.forget: no values")
    require(values.length <= maxValues,
      s"Streams.forget: ${values.length} values exceeds $maxValues — " +
        "a deletion set that large is a rebuild, not a maintenance op")
    // per-target FileSystem: targets can span schemes (file:/ + s3a://)
    def hasLayers(t: String, sub: String): Boolean = {
      val path = new org.apache.hadoop.fs.Path(s"$t/$sub")
      val tfs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      tfs.exists(path) ||
        tfs.exists(new org.apache.hadoop.fs.Path(s"$t/compact/$sub"))
    }
    // classify AND validate everything before mutating anything
    val kinds = targets.map { t =>
      val kind = mergeLayoutOf(spark, t) match {
        case Some(l) =>
          require(l.keys.contains(keyCol),
            s"Streams.forget: '$keyCol' is not a key of merge table $t " +
              s"(keys: ${l.keys.mkString(", ")})")
          "merge-table"
        case None => aggLayoutOf(spark, t) match {
          case Some(l) =>
            require(l.keys.contains(keyCol),
              s"Streams.forget: '$keyCol' is not a snapshot key of $t " +
                s"(keys: ${l.keys.mkString(", ")})")
            "agg-snapshot"
          case None =>
            if (hasLayers(t, "postings")) {
              // every precondition bm25IndexDelete would refuse on is
              // checked HERE so the whole call fails before any leg
              // mutates: committed version, and no crashed delete
              // pending for a different (or unverifiable) id set
              require(snapshotVersions(spark, t).nonEmpty,
                s"Streams.forget: $t has postings layers but no " +
                  "committed version — not a servable BM25 target (did " +
                  "its sink die before the first commit?)")
              val mark = new org.apache.hadoop.fs.Path(
                s"$t/.bm25_delete/_COMMITTED")
              if (mark.getFileSystem(spark.sparkContext.hadoopConfiguration)
                  .exists(mark)) {
                val rendered = values.map(String.valueOf).sorted.mkString("\n")
                bm25PendingIds(spark, t) match {
                  case Some(pending) => require(pending == rendered,
                    s"Streams.forget: $t has a crashed BM25 delete " +
                      s"pending for a DIFFERENT id set " +
                      s"[${pending.linesIterator.mkString(", ")}] — " +
                      "complete it via bm25IndexDelete first")
                  case None => throw new IllegalStateException(
                    s"Streams.forget: $t carries an unverifiable crashed " +
                      "BM25 delete (committed staging, no id record) — " +
                      "see bm25IndexDelete's recovery guidance")
                }
              }
              "bm25-index"
            }
            else if (hasLayers(t, "assign")) "ann-index"
            else if (graft.plans.SkipRewrite.registrationOf(t).isDefined &&
                !hasLayers(t, "index")) {
              // RAW corpus with a registered skipping index: validate
              // the probe is answerable NOW (fingerprint on keyCol) —
              // targetedDelete mid-sequence would otherwise refuse
              // after earlier legs already mutated
              val entry = graft.plans.SkipRewrite.registrationOf(t).get
              val idx = entry.index().getOrElse(
                throw new IllegalStateException(
                  s"Streams.forget: corpus $t has a versioned " +
                    "skipping-index registration with no committed " +
                    "version yet — the delete has no index to prune its " +
                    "probe with"))
              val fields = idx.schema.fieldNames.toSet
              require(fields.contains("fp_bits") &&
                  fields.contains(s"fp_$keyCol"),
                s"Streams.forget: the skipping index registered for " +
                  s"corpus $t does not fingerprint '$keyCol' — " +
                  "targetedDelete cannot prune its probe; rebuild the " +
                  "index with statsIndexFingerprint fpCols including it")
              "corpus"
            }
            else if (hasLayers(t, "index")) {
              // the LSH leg probes layers by keyCol: check one layer's
              // schema NOW — an unresolved column mid-sequence would
              // leave earlier legs half-forgotten
              val firstLayer =
                listBatchDirs(spark, t, "index").sorted.headOption
                  .map(id => s"$t/index/batch=$id")
                  .orElse(committedCompactions(spark, t, "index").sorted
                    .headOption.map(c => s"$t/compact/index/c=$c"))
              require(firstLayer.exists(l => spark.read.parquet(l)
                  .schema.fieldNames.contains(keyCol)),
                s"Streams.forget: '$keyCol' is not a column of LSH index " +
                  s"$t — its layers key by a different id column")
              "lsh-index"
            }
            else throw new IllegalArgumentException(
              s"Streams.forget: $t is not a recognizable target (no " +
                "_merge/_layout marker, no postings/assign/index layers, " +
                "no SkipRewrite registration) — register a raw corpus " +
                "directory's skipping index (SkipRewrite.register / " +
                "registerVersioned) to include it as the corpus leg, or " +
                "run Layout.targetedDelete on it directly")
        }
      }
      (t, kind)
    }
    lazy val longIds: Seq[Long] = values.map {
      case l: Long => l
      case i: Int => i.toLong
      case other => throw new IllegalArgumentException(
        s"Streams.forget: '$other' is not an integral id — the LSH/ANN " +
          "legs key by long ids")
    }
    // force the integral-id validation before any leg mutates
    if (kinds.exists(k => k._2 == "ann-index" || k._2 == "lsh-index")) {
      val _ = longIds
    }
    // DEPENDENCY ORDER: corpus legs first (stable within each group) —
    // a fresh-composition read between legs must never re-derive a
    // forgotten row from the un-indexed base tail. The corpus rewrite
    // is PATH-STABLE (targetedDeleteInPlace), so nothing downstream
    // needs repairing: coverage manifests stay valid verbatim, the
    // artifacts' file sources see nothing new on resume, and the fresh
    // readers' mutation guard never trips.
    kinds.sortBy(k => if (k._2 == "corpus") 0 else 1)
      .map { case (t, kind) =>
        val n = kind match {
          case "corpus" => corpusForgetLeg(spark, t, keyCol, values, maxValues)
          case "merge-table" => tableDelete(spark, t, keyCol, values, maxValues)
          case "agg-snapshot" => snapshotDelete(spark, t, keyCol, values, maxValues)
          case "bm25-index" => bm25IndexDelete(spark, t, values, maxValues)
          case "ann-index" => annIndexDelete(spark, t, longIds, maxValues)
          case "lsh-index" => lshIndexDelete(spark, t, keyCol, longIds, maxValues)
        }
        ForgetReport(t, kind, n)
      }
  }

  /** [[forget]]'s corpus leg: [[graft.ops.Layout.targetedDelete]]
    * driven by the directory's own [[graft.plans.SkipRewrite]]
    * registration — the index prunes the probe to the files that may
    * hold the doomed keys, the rewrite is the anti-join over only
    * those. A persisted registration's on-disk index is overwritten
    * with the refreshed rows (decoupled from its own path first), so
    * registered pruning keeps answering exactly after the rewrite.
    * Returns the number of corpus files rewritten. */
  private def corpusForgetLeg(spark: org.apache.spark.sql.SparkSession,
                              corpusDir: String, keyCol: String,
                              values: Seq[Any], maxValues: Int): Int = {
    val entry = graft.plans.SkipRewrite.registrationOf(corpusDir).getOrElse(
      throw new IllegalStateException(
        s"Streams.forget: the SkipRewrite registration for $corpusDir " +
          "disappeared mid-call — re-run forget"))
    val idx = entry.index().getOrElse(throw new IllegalStateException(
      s"Streams.forget: the skipping index for $corpusDir resolved to " +
        "no committed version mid-call — re-run forget"))
    val pinned = idx.localCheckpoint(true)
    val rewritten = graft.ops.Layout.targetedDeleteInPlace(spark, corpusDir,
      pinned, keyCol, values, maxValues)
    // the untouched index is already SOUND (stale fingerprints only
    // over-approximate); for a PERSISTED registration we additionally
    // restore exactness by re-deriving the rewritten files' rows under
    // the index's own build parameters — registered pruning then
    // answers exactly, not just safely. A versioned registration's
    // layers are its sink's to refresh; stale rows there stay sound.
    if (rewritten.nonEmpty) entry.persistedPath match {
      case Some(indexPath) =>
        import org.apache.spark.sql.functions.col
        def uriPath(s: String): String = new java.net.URI(s).getPath
        val rewrittenPaths = rewritten.map(uriPath).toSet
        val staleNames = pinned.select("file").collect().map(_.getString(0))
          .filter(f => rewrittenPaths.contains(uriPath(f))).toSeq
        val fields = pinned.schema.fieldNames
        val fpCols = fields.collect { case n if n.startsWith("fp_") &&
          n != "fp_bits" && n != "fp_k" => n.stripPrefix("fp_") }.toSeq
        val statCols = fields
          .collect { case n if n.startsWith("min_") => n.stripPrefix("min_") }
          .toSeq
        val fpRow = pinned.select("fp_bits", "fp_k").head
        val freshRows = graft.ops.Layout.indexForFiles(spark, rewritten,
          statCols, fpCols, fpRow.getInt(0), fpRow.getInt(1))
        pinned.filter(!col("file").isin(staleNames: _*))
          .unionByName(freshRows)
          .localCheckpoint(true)
          .write.mode("overwrite").parquet(indexPath)
        spark.catalog.refreshByPath(indexPath)
      case None =>
        logInfo(s"Streams.forget: $corpusDir has a VERSIONED skipping " +
          "registration — its layers keep pre-rewrite stats for the " +
          s"${rewritten.length} rewritten file(s), which stay SOUND " +
          "(over-approximate pruning only); the sink's own lifecycle " +
          "tightens them")
    }
    rewritten.length
  }

  /** The shared scrub behind [[lshIndexDelete]] and [[snapshotDelete]]:
    * rewrite every on-disk LAYER of a maintained batch-dir artifact —
    * each `<subdir>/batch=<id>` dir and each committed
    * `compact/<subdir>/c=<id>` generation — without the rows whose
    * `colName` matches `values`, touching ONLY layers that contain a
    * match (one column-pruned probe scan per layer). Survivors are
    * staged OUTSIDE the layer listings (dot-prefixed, so batch=/c=
    * parsers and Spark's own file listing never see them — a
    * "batch=5.__new" sibling would poison listBatchDirs forever after
    * a crash), then a two-rename swap: old aside, new in, old dropped.
    * A crash at any point is recoverable — worst case the layer sits
    * aside as `<name>.old` and the self-heal pass restores it on the
    * next run; a delete-then-rename order could silently lose the
    * WHOLE layer while versions kept resolving. NULL-keyed rows always
    * survive (a null never matches a deletion value). */
  private def scrubLayers(spark: org.apache.spark.sql.SparkSession,
                          targetDir: String, subdir: String,
                          colName: String, values: Seq[Any]): Int = {
    import org.apache.spark.sql.functions.col
    rewriteLayers(spark, targetDir, subdir) { ref =>
      val layer = spark.read.parquet(ref.dir)
      if (layer.filter(col(colName).isin(values: _*)).isEmpty) None
      else Some(layer.filter(col(colName).isNull ||
        !col(colName).isin(values: _*)))
    }
  }

  /** One on-disk layer of a maintained batch-dir artifact: a raw
    * `<subdir>/batch=<id>` dir or a committed `compact/<subdir>/c=<id>`
    * generation. */
  private final case class LayerRef(dir: String, name: String,
                                    isGeneration: Boolean, id: Long)

  /** The staged-swap rewrite engine behind [[scrubLayers]] and the
    * BM25 df adjustment: visit every on-disk LAYER of `subdir` (raw
    * batch dirs and committed generations); `transform` returns the
    * layer's replacement rows (None = leave the layer byte-identical).
    * Survivors are staged OUTSIDE the layer listings (dot-prefixed, so
    * batch=/c= parsers and Spark's own file listing never see them —
    * a "batch=5.__new" sibling would poison listBatchDirs forever
    * after a crash), then a two-rename swap: old aside, new in, old
    * dropped. A crash at any point is recoverable — worst case the
    * layer sits aside as `<name>.old` and the self-heal pass restores
    * it on the next run; a delete-then-rename order could silently
    * lose the WHOLE layer while versions kept resolving. `stamp`
    * (underscore-prefixed, so parquet readers skip it) is created
    * INSIDE the replacement dir before the swap: the rename installs
    * data and stamp atomically, so "was this transform already applied
    * to this layer" is answerable exactly — a marker written after the
    * swap would leave a crash window in which a resume re-applies a
    * non-idempotent transform (the BM25 df-decrement lesson).
    * Transforms that must not re-apply check `ref.dir/<stamp>` and
    * return None. */
  private def rewriteLayers(spark: org.apache.spark.sql.SparkSession,
                            targetDir: String, subdir: String,
                            stamp: Option[String] = None)(
      transform: LayerRef => Option[DataFrame]): Int = {
    val fs = new org.apache.hadoop.fs.Path(targetDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stagingDir = s"$targetDir/.delete_staging_$subdir"
    // self-heal a previous CRASHED swap before listing anything: a
    // layer renamed aside (<name>.old) whose original dir is missing
    // means the crash hit between the two renames — restore it (no
    // silent loss, the re-run redoes the whole delete); an .old whose
    // original exists again is a completed swap's leftover. Everything
    // else in staging is a stale survivor write — recomputed anyway.
    val stagingPath = new org.apache.hadoop.fs.Path(stagingDir)
    if (fs.exists(stagingPath)) {
      fs.listStatus(stagingPath)
        .filter(_.getPath.getName.endsWith(".old")).foreach { st =>
          val layer = st.getPath.getName.stripSuffix(".old")
          val orig = new org.apache.hadoop.fs.Path(
            if (layer.startsWith("c=")) s"$targetDir/compact/$subdir/$layer"
            else s"$targetDir/$subdir/$layer")
          if (!fs.exists(orig)) fs.rename(st.getPath, orig)
        }
      fs.delete(stagingPath, true)
    }
    val layers =
      listBatchDirs(spark, targetDir, subdir).sorted
        .map(id => LayerRef(s"$targetDir/$subdir/batch=$id", s"batch=$id",
          isGeneration = false, id)) ++
      committedCompactions(spark, targetDir, subdir).sorted
        .map(c => LayerRef(s"$targetDir/compact/$subdir/c=$c", s"c=$c",
          isGeneration = true, c))
    var rewritten = 0
    layers.foreach { ref =>
      transform(ref).foreach { replacement =>
        val tmp = s"$stagingDir/${ref.name}"
        replacement.write.mode("overwrite").parquet(tmp)
        stamp.foreach(s =>
          fs.create(new org.apache.hadoop.fs.Path(s"$tmp/$s"), true).close())
        val aside = new org.apache.hadoop.fs.Path(s"$stagingDir/${ref.name}.old")
        fs.rename(new org.apache.hadoop.fs.Path(ref.dir), aside)
        fs.rename(new org.apache.hadoop.fs.Path(tmp),
          new org.apache.hadoop.fs.Path(ref.dir))
        // a generation layer is resolvable only through its _SUCCESS
        // (committedCompactions): recreate it explicitly — the staged
        // survivor write may not have produced one in sessions where
        // parquet success markers are disabled (compactCore's own
        // precaution), and losing it would silently un-commit the
        // generation
        if (ref.isGeneration)
          fs.create(new org.apache.hadoop.fs.Path(s"${ref.dir}/_SUCCESS"),
            true).close()
        fs.delete(aside, true)
        rewritten += 1
      }
    }
    fs.delete(stagingPath, true)
    if (rewritten > 0) {
      // raw FS swaps: same-session listings must not serve the removed
      // files (the targetedDelete lesson)
      spark.catalog.refreshByPath(s"$targetDir/$subdir")
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$targetDir/compact/$subdir")))
        spark.catalog.refreshByPath(s"$targetDir/compact/$subdir")
    }
    rewritten
  }

  /** The shared commit tail of the maintained-index sinks
    * ([[ivfPqIndexSink]], [[lshIndexSink]]): cumulative file-coverage
    * manifest (predecessor's + this batch's files — what
    * [[freshnessLagOf]]'s pending count and fresh composition subtract
    * from the base listing; a missing file log writes no manifest),
    * then the `v=<id>/_SUCCESS` marker LAST so a torn write is never
    * resolvable, then freshness + retention. */
  /** Replay hygiene for the batch-dir sinks, run FIRST in every
    * trigger: a prior attempt at this batch may have committed
    * `v=<batchId>/_SUCCESS` and then died before the streaming
    * checkpoint commit, so the replay's delete-and-rewrite of
    * `<subdir>/batch=<batchId>` would otherwise run UNDER a
    * still-resolvable version — a concurrent reader of that
    * "committed" version could see a partially rewritten batch dir.
    * Deleting the marker before touching any data dir restores the
    * torn-version-is-never-resolved contract (the old
    * overwrite-the-v=dir layout got this for free because the parquet
    * overwrite removed the marker first); the replay recommits the
    * version after its rewrite completes. */
  /** [[toForeachBatchSink]] for sinks that own a VERSIONED target
    * directory, with the checkpoint-identity guard run once per sink
    * instance before the first batch: streaming batch ids are local to
    * a CHECKPOINT, so a sink pointed at an existing target from a
    * fresh (or wiped-and-recreated) checkpoint restarts numbering at 0
    * and the replay-idempotence discipline — "a replayed batch
    * overwrites its own subdirectory/version" — would then treat
    * committed history as its own failed attempts and silently
    * overwrite it. The target records the query id of the checkpoint
    * that maintains it (`_query` marker; Structured Streaming assigns
    * a fresh UUID whenever a checkpoint is created, so even the same
    * PATH wiped and recreated is caught); a mismatch fails the stream
    * loudly at its first trigger. Resuming from the original
    * checkpoint is always clean; adopting a new one means a fresh
    * target (or an explicit, eyes-open delete of the marker). */
  private def toVersionedSink(df: DataFrame, checkpoint: String,
                              targetDir: String)(
      fn: (DataFrame, Long) => Unit): StreamingQuery = {
    var checked = false
    toForeachBatchSink(df, checkpoint) { (batch, id) =>
      if (!checked) {
        guardSinkIdentity(batch.sparkSession, targetDir, checkpoint, id)
        checked = true
      }
      fn(batch, id)
    }
  }

  private def checkpointQueryId(spark: org.apache.spark.sql.SparkSession,
                                checkpoint: String): Option[String] =
    try {
      val p = new org.apache.hadoop.fs.Path(s"$checkpoint/metadata")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val text = try new String(
            org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
            java.nio.charset.StandardCharsets.UTF_8)
          finally in.close()
        "\"id\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(text).map(_.group(1))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  private def guardSinkIdentity(spark: org.apache.spark.sql.SparkSession,
                                targetDir: String,
                                checkpoint: String,
                                firstBatchId: Long): Unit = {
    // adoption is ONE-WAY: with the _query marker gone (the documented
    // step for external writes to take over a retired sink's target)
    // and committed versions present, this sink may only attach if its
    // numbering lands ABOVE the committed head — its replay-overwrite
    // discipline ("a replayed batch overwrites its own version") would
    // otherwise silently destroy versions it never wrote (an adopted
    // target's external commits, exactly the committed-intent loss the
    // write face's claims exclude)
    val committedHead = snapshotVersions(spark, targetDir).maxOption
    committedHead.foreach { head =>
      val mk = new org.apache.hadoop.fs.Path(s"$targetDir/_query")
      val mkFs = mk.getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(mkFs.exists(mk) || firstBatchId > head,
        s"versioned sink: $targetDir has committed versions through " +
          s"$head but no _query marker, and this checkpoint's next " +
          s"batch id is $firstBatchId — resuming would overwrite " +
          "versions this sink cannot prove it wrote (external writes " +
          "adopted the target after the marker was deleted; adoption " +
          "is one-way). Use a fresh target + checkpoint, or if these " +
          "versions ARE this sink's own work under a lost marker, " +
          s"delete $targetDir/v=<ids> above ${firstBatchId - 1} to let " +
          "the replay re-run them")
    }
    checkpointQueryId(spark, checkpoint) match {
      case None =>
        // metadata unreadable — nothing to pin against; stay permissive
        // (the guard is a footgun catch, not a correctness dependency)
        logWarning(s"versioned sink: could not read a query id from " +
          s"$checkpoint/metadata — checkpoint-identity guard inactive " +
          s"for $targetDir")
      case Some(id) =>
        val mk = new org.apache.hadoop.fs.Path(s"$targetDir/_query")
        val fs = mk.getFileSystem(spark.sparkContext.hadoopConfiguration)
        def requireMatch(): Unit = {
          val in = fs.open(mk)
          val old = try new String(
              org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
              java.nio.charset.StandardCharsets.UTF_8).trim
            finally in.close()
          require(old == id,
            s"versioned sink: $targetDir is maintained by checkpoint query " +
              s"$old but this sink runs as $id — a fresh checkpoint restarts " +
              "batch numbering at 0, and the replay-overwrite discipline " +
              "would silently destroy committed layers. Resume from the " +
              "original checkpoint, or use a fresh target (to adopt a new " +
              s"checkpoint deliberately, delete $targetDir/_query first)")
        }
        if (!fs.exists(mk)) {
          // staged write + rename: a crash between create and write
          // would otherwise leave an EMPTY marker that rejects the
          // legitimate resume forever (the scrubLayers swap discipline)
          val tmp = new org.apache.hadoop.fs.Path(s"$targetDir/._query.tmp")
          val out = fs.create(tmp, true)
          try out.write(id.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          finally out.close()
          if (!fs.rename(tmp, mk)) {
            // rename-to-existing fails on some filesystems, and two
            // first-trigger sinks can race to adopt a fresh target —
            // either way the marker's content decides, not our write
            fs.delete(tmp, false)
            if (fs.exists(mk)) requireMatch()
            else logWarning(s"versioned sink: could not write the _query " +
              s"marker under $targetDir (rename refused) — " +
              "checkpoint-identity guard inactive for this target")
          }
        } else requireMatch()
    }
  }

  private def unresolveReplayedVersion(spark: org.apache.spark.sql.SparkSession,
                                       targetDir: String,
                                       batchId: Long): Unit = {
    val marker = new org.apache.hadoop.fs.Path(
      s"$targetDir/v=$batchId/_SUCCESS")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(marker)) fs.delete(marker, false)
  }

  // ---- commit epochs --------------------------------------------------
  // One counter per target path, bumped on every version commit THIS
  // session performs (sinks and external writes alike). The graft
  // DataSource's per-planning version pin is memoized against it: all
  // scans of one planning serve one version (no torn reads), while the
  // next planning after a local commit re-pins to the fresh version —
  // a long-lived SQL view over a live table never goes permanently
  // stale. Foreign-session commits don't bump it, so an already-pinned
  // read can never shift mid-flight under them either.
  private val commitEpochs =
    new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.atomic.AtomicLong]()

  private def epochKey(spark: org.apache.spark.sql.SparkSession,
                       targetDir: String): String =
    new org.apache.hadoop.fs.Path(targetDir).toString

  /** The session-local commit epoch of a maintained target — changes
    * exactly when a version commit lands from THIS JVM. */
  def commitEpochOf(spark: org.apache.spark.sql.SparkSession,
                    targetDir: String): Long = {
    val a = commitEpochs.get(epochKey(spark, targetDir))
    if (a == null) 0L else a.get()
  }

  private def bumpCommitEpoch(spark: org.apache.spark.sql.SparkSession,
                              targetDir: String): Unit =
    commitEpochs.computeIfAbsent(epochKey(spark, targetDir),
      _ => new java.util.concurrent.atomic.AtomicLong(0L)).incrementAndGet()

  private def commitIndexVersion(spark: org.apache.spark.sql.SparkSession,
                                 targetDir: String, checkpoint: String,
                                 batchId: Long, retainVersions: Int,
                                 withManifest: Boolean = true,
                                 schema: Option[StructType] = None): Unit = {
    val fs = new org.apache.hadoop.fs.Path(targetDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a merge table's read schema, recorded before the version becomes
    // visible: readers plan from it instead of inferring from footers
    schema.foreach { s =>
      val out = fs.create(new org.apache.hadoop.fs.Path(
        s"$targetDir/v=$batchId/$TableSchemaFile"), true)
      try out.write(s.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    // withManifest = false for ±op (retraction) sinks: file-coverage is
    // meaningless under retractions (tail composition is unsound), so
    // recording one would only invite a wrong fresh registration — and
    // the predecessor listing/manifest read is skipped with it (a
    // per-trigger FS round-trip on object stores, for nothing)
    if (withManifest) for {
      pm <- (snapshotVersions(spark, targetDir).filter(_ < batchId)
        .sorted.lastOption match {
          case Some(v) =>
            snapshotManifest(spark, s"$targetDir/v=$v").map(_.toSeq)
          case None => Some(Nil)
        }): Option[Seq[String]]
      bf <- sourceBatchFiles(spark, checkpoint, batchId)
    } {
      val all = (pm ++ bf).distinct.sorted
      val out = fs.create(new org.apache.hadoop.fs.Path(
        s"$targetDir/v=$batchId/$ManifestFile"), true)
      try out.write(all.mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    fs.create(new org.apache.hadoop.fs.Path(
      s"$targetDir/v=$batchId/_SUCCESS"), true).close()
    bumpCommitEpoch(spark, targetDir)
    writeFreshness(spark, targetDir, checkpoint, batchId)
    snapshotVersions(spark, targetDir).sorted.dropRight(retainVersions)
      .foreach(v => fs.delete(
        new org.apache.hadoop.fs.Path(s"$targetDir/v=$v"), true))
  }

  /** Compact a maintained index's per-batch subdirectories into one
    * globally-clustered generation. The batch-dir sinks
    * ([[bm25IndexSink]] `postings/`, [[ivfPqIndexSink]] `assign/`,
    * [[lshIndexSink]] `index/`) append `batch=<id>/` once per
    * microbatch and never rewrite — the right WRITE amplification (a
    * 100 TB corpus's index only ever grows by each batch's own rows),
    * but after tens of thousands of microbatches the READ side decays:
    * a search's term/cell IN-list must consult every batch's files
    * because clustering is only per-batch, and the sheer file count
    * dominates open/footer cost. Compaction is the missing half of
    * that lifecycle: all committed batches `<= version` (plus the
    * predecessor compacted generation — re-compaction never re-reads
    * vacuumed batch dirs) rewrite ONCE into `compact/c=<version>/`,
    * range-clustered on `clusterCols` across the WHOLE corpus so an
    * IN-list probe opens ~1 of `targetFiles` files instead of
    * |batches| x filesPerBatch.
    *
    * Commit protocol mirrors the version markers: the generation is
    * resolvable only once its `_SUCCESS` exists (written after the
    * parquet job), so a crashed compaction is invisible and a re-run
    * overwrites the torn directory. Readers resolve the freshest
    * committed generation `c <= version` and union only batch dirs in
    * `(c, version]` — a compaction can never change an answer, only
    * the files opened to produce it (spec-pinned bit-for-bit). The
    * predecessor generation is retained (`retainCompactions >= 2`) for
    * in-flight readers, exactly the snapshot sinks' retention
    * contract. Batch dirs covered by a committed generation stay on
    * disk until [[vacuumIndex]].
    *
    * Returns the compacted-through version, or None when nothing is
    * committed yet or fewer than `minBatches` uncompacted batch dirs
    * exist (steady-state no-op: schedule it like any maintenance job). */
  def compactIndex(spark: org.apache.spark.sql.SparkSession,
                   targetDir: String, subdir: String,
                   clusterCols: Seq[String], targetFiles: Int = 4,
                   minBatches: Int = 2,
                   retainCompactions: Int = 2): Option[Long] =
    compactCore(spark, targetDir, subdir, clusterCols, targetFiles,
      minBatches, retainCompactions, identity)

  /** [[compactIndex]] for a partials-layout agg-snapshot target: the
    * generation is not a concatenation but the per-key FOLD of the
    * covered layers ([[graft.ops.Cdc.mergeSnapshotPartials]] — exact
    * for counts/sums/min/max/KMV, estimate-exact for HLL, rank-exact
    * for KLL; a retraction target's fully-retracted keys vanish), so
    * generations stay |live groups|-sized however many batches they
    * fold — without the merge, a hot key would accumulate one partial
    * row per generation forever. Range-clustered on the snapshot keys
    * so key-range reads prune files. Configuration comes from the
    * target's own `_layout` marker. */
  def compactSnapshot(spark: org.apache.spark.sql.SparkSession,
                      targetDir: String, targetFiles: Int = 4,
                      minBatches: Int = 2,
                      retainCompactions: Int = 2): Option[Long] = {
    val layout = aggLayoutOf(spark, targetDir).getOrElse(
      throw new IllegalStateException(
        s"Streams.compactSnapshot: $targetDir has no _layout marker — not " +
          "a partials-layout agg-snapshot target (compactIndex handles the " +
          "batch-dir index sinks)"))
    compactCore(spark, targetDir, "delta", layout.keys, targetFiles,
      minBatches, retainCompactions, mergePartialsFor(layout, keepBatch = true),
      evolving = true)
  }

  private def compactCore(spark: org.apache.spark.sql.SparkSession,
                          targetDir: String, subdir: String,
                          clusterCols: Seq[String], targetFiles: Int,
                          minBatches: Int, retainCompactions: Int,
                          transform: DataFrame => DataFrame,
                          evolving: Boolean = false): Option[Long] = {
    import org.apache.spark.sql.functions.col
    require(targetFiles > 0, "Streams.compactIndex: targetFiles must be positive")
    require(minBatches >= 1, "Streams.compactIndex: minBatches must be >= 1")
    require(retainCompactions >= 2,
      "Streams.compactIndex: must retain >= 2 generations (in-flight readers " +
        "may hold the predecessor)")
    val versionOpt = snapshotVersions(spark, targetDir).sorted.lastOption
    versionOpt.flatMap { version =>
      val prevC = committedCompactions(spark, targetDir, subdir)
        .filter(_ <= version).sorted.lastOption
      val batchIds = listBatchDirs(spark, targetDir, subdir)
        .filter(id => id <= version && prevC.forall(id > _)).sorted
      if (batchIds.length < minBatches) None
      else {
        val basePath = s"$targetDir/$subdir"
        def rd = layerReader(spark, targetDir, subdir, version, evolving)
        val tail = rd.option("basePath", basePath)
          .parquet(batchIds.map(id => s"$basePath/batch=$id").toIndexedSeq: _*)
          .withColumn("batch", col("batch").cast("long"))
        val all = prevC match {
          case Some(c) =>
            rd.parquet(s"$targetDir/compact/$subdir/c=$c")
              .unionByName(tail, allowMissingColumns = evolving)
          case None => tail
        }
        val out = s"$targetDir/compact/$subdir/c=$version"
        val folded = transform(all)
        val clustered =
          if (clusterCols.isEmpty) folded.repartition(targetFiles)
          else folded.repartitionByRange(targetFiles, clusterCols.map(col): _*)
            .sortWithinPartitions(clusterCols.map(col): _*)
        clustered.write.mode("overwrite").parquet(out)
        val fs = new org.apache.hadoop.fs.Path(targetDir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        // explicit marker — idempotent with the parquet committer's
        // own _SUCCESS, and the commit even when markers are disabled
        fs.create(new org.apache.hadoop.fs.Path(s"$out/_SUCCESS"), true).close()
        committedCompactions(spark, targetDir, subdir).sorted
          .dropRight(retainCompactions)
          .foreach(c => fs.delete(new org.apache.hadoop.fs.Path(
            s"$targetDir/compact/$subdir/c=$c"), true))
        // raw FS deletes: same-session listings must not serve the
        // removed generation (the targetedDelete lesson)
        spark.catalog.refreshByPath(s"$targetDir/compact/$subdir")
        Some(version)
      }
    }
  }

  /** Delete the batch directories a committed [[compactIndex]]
    * generation has made redundant — the space/file-count half of the
    * lifecycle, separated from compaction so operators control the
    * grace window. Only batches `<= the OLDEST retained generation`
    * go: an in-flight reader pinned to that predecessor still resolves
    * every batch dir it needs. One window remains the operator's:
    * readers that resolved BEFORE the first compaction committed read
    * batch dirs directly, so schedule the first vacuum after those
    * drain — the same grace-window contract as version retention
    * everywhere else here. Returns the deleted batch ids. */
  def vacuumIndex(spark: org.apache.spark.sql.SparkSession,
                  targetDir: String, subdir: String): Seq[Long] = {
    val cs = committedCompactions(spark, targetDir, subdir).sorted
    cs.headOption match {
      case None => Nil
      case Some(safe) =>
        val doomed = listBatchDirs(spark, targetDir, subdir)
          .filter(_ <= safe).sorted.toIndexedSeq
        if (doomed.nonEmpty) {
          val fs = new org.apache.hadoop.fs.Path(targetDir)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          doomed.foreach(id => fs.delete(
            new org.apache.hadoop.fs.Path(s"$targetDir/$subdir/batch=$id"), true))
          // the session's file-listing cache still names the deleted
          // parts (the targetedDelete lesson)
          spark.catalog.refreshByPath(s"$targetDir/$subdir")
        }
        doomed
    }
  }

  /** The sinks' in-line auto-compaction hook (`compactEvery` = 0 never
    * fires — compaction stays an out-of-band job): runs
    * [[compactIndex]] + [[vacuumIndex]] right after the version
    * commit. In-line is race-free by construction (the sink is the
    * only writer, and both ops pin the committed version first); the
    * cost is that ingestion pauses for the compaction's duration on
    * those batches — the standard auto-optimize trade.
    *
    * The trigger is GEOMETRIC, with `compactEvery` as its floor: fire
    * when the uncompacted tail has grown to `max(compactEvery,
    * batches-already-covered)`. Each compaction rewrites the whole
    * index, so a fixed every-k cadence would rewrite O(B/k) times over
    * B batches — O(N·B/k) lifetime write amplification, quadratic-ish
    * at 100 TB. Doubling caps it at O(log B) generations ever written,
    * O(N·log B) total bytes — the LSM amortization argument — while
    * the floor still bounds how many uncompacted batch dirs a probe
    * must consult between generations. Vacuum's grace window falls out
    * of retention: it only frees batches covered by the OLDEST
    * retained generation, so pre-compaction readers get a full
    * trigger interval to drain before anything they resolved
    * disappears. */
  private def maybeAutoCompact(spark: org.apache.spark.sql.SparkSession,
                               targetDir: String, subdir: String,
                               clusterCols: Seq[String], compactFiles: Int,
                               compactEvery: Int, batchId: Long,
                               transform: DataFrame => DataFrame = identity,
                               evolving: Boolean = false,
                               maxTail: Int = 0)
      : Unit =
    if (compactEvery > 0) {
      val prevC = committedCompactions(spark, targetDir, subdir)
        .filter(_ <= batchId).sorted.lastOption
      // streaming batch ids are sequential from 0, so ids stand in for
      // counts: covered = batches <= prevC, tail = batches since
      val covered = prevC.map(_ + 1).getOrElse(0L)
      val tail = batchId - prevC.getOrElse(-1L)
      // geometric interval, optionally CAPPED: maxTail bounds the raw
      // tail every read has to plan over (one file per dir), trading
      // fold frequency for flat read latency — see mergeSink's doc
      val interval = {
        val geo = math.max(compactEvery.toLong, covered)
        if (maxTail > 0) math.min(maxTail.toLong, geo) else geo
      }
      if (tail >= interval) {
        compactCore(spark, targetDir, subdir, clusterCols, compactFiles,
          minBatches = 1, retainCompactions = 2, transform, evolving)
        // vacuum only once a SECOND generation exists: on the very first
        // compaction the just-committed generation IS the oldest one, so
        // vacuuming now would free every covered batch dir with zero
        // grace — a reader that resolved its version BEFORE any
        // generation existed (the no-generation path reads batch dirs
        // directly) would lose files mid-query. From the second
        // generation on, the safe point is the OLDEST retained one, so
        // pre-compaction readers get at least one full geometric
        // interval to drain before anything they resolved disappears.
        if (committedCompactions(spark, targetDir, subdir).length >= 2)
          vacuumIndex(spark, targetDir, subdir)
      }
    }

  /** Operability: the committed compaction generations and the batch
    * directories still on disk for one maintained-index data
    * subdirectory — "is this index keeping up with its lifecycle"
    * (how many batch dirs has the latest generation not folded, what
    * would the next [[vacuumIndex]] free) answered without running
    * anything. */
  def compactionsOf(spark: org.apache.spark.sql.SparkSession,
                    targetDir: String, subdir: String):
      (Seq[Long], Seq[Long]) =
    (committedCompactions(spark, targetDir, subdir).sorted.toSeq,
      listBatchDirs(spark, targetDir, subdir).sorted.toSeq)

  /** ONE-CALL scheduled maintenance for any maintained-artifact target
    * — the out-of-band twin of the sinks' in-line `compactEvery` hook,
    * with zero artifact-specific knowledge required of the operator.
    * Discovers which data subdirectories the target actually carries
    * (the sinks' shared layout vocabulary: `delta` = agg-snapshot
    * partials, `rows` = merge-on-read table, `stats` = file-skipping,
    * `postings`/`df` = BM25, `assign` = ANN assignments, `index` =
    * LSH signatures) and runs
    * each through the geometric lifecycle's scheduled half:
    * [[compactSnapshot]] for partials (the per-key FOLD, configured by
    * the target's own `_layout` marker) or [[compactIndex]] with that
    * subdir's serving-path clustering (`file` / `term` / `cell_id`;
    * the LSH id column is inferred from a committed layer's schema —
    * the one field that is not `sig`/`shset` — and refuses loudly on
    * ambiguity), then [[vacuumIndex]] under the same first-vacuum
    * grace rule the in-line hook applies (never before a SECOND
    * generation exists, so pre-compaction readers keep every batch dir
    * they could have resolved). Steady-state calls are no-ops
    * (`minBatches` unmet → nothing rewritten) — schedule it like any
    * maintenance job, against targets whose sinks run with
    * `compactEvery = 0` or to fold a long tail between geometric
    * firings. Single-maintainer contract per target, like
    * [[compactIndex]] itself (concurrent with a LIVE sink is safe —
    * spec-pinned — but don't run two maintainers on one target).
    * Returns one row per data subdir found: (subdir,
    * compacted-through version or None, vacuumed batch ids). */
  /** `maxTail` follows the sinks' shared `compactMaxTail` contract
    * ([[resolvedMaxTail]]): `-1` (the default) DERIVES `8 ×
    * minBatches`, so the scheduled twin fires on the SAME capped
    * geometric trigger shape as the in-line `compactEvery` hook — a
    * user mixing in-line and scheduled maintenance gets one trigger
    * discipline, not two. `0` keeps the historical unconditional
    * at-`minBatches` fold (every call that finds `minBatches`
    * uncompacted dirs rewrites); an explicit positive cap must be at
    * or above the `minBatches` floor. Callers can then run
    * maintainArtifact on a fixed timer (every few minutes) against
    * sinks running `compactEvery = 0` and get the same bounded-read /
    * amortized-write lifecycle the in-line hook gives, without every
    * call paying a whole-index rewrite. */
  def maintainArtifact(spark: org.apache.spark.sql.SparkSession,
                       targetDir: String, targetFiles: Int = 4,
                       minBatches: Int = 2, retainCompactions: Int = 2,
                       vacuum: Boolean = true,
                       maxTail: Int = -1)
      : Seq[(String, Option[Long], Seq[Long])] = {
    val resolvedTail = resolvedMaxTail("Streams.maintainArtifact",
      maxTail, minBatches)
    val subdirs = Seq("delta", "rows", "stats", "postings", "df", "assign",
      "index")
    val versionOpt = snapshotVersions(spark, targetDir).sorted.lastOption
    subdirs.flatMap { sd =>
      val (gens, batches) = compactionsOf(spark, targetDir, sd)
      if (gens.isEmpty && batches.isEmpty) None
      else {
        // the scheduled twin of maybeAutoCompact's trigger: fire only
        // when the tail since the last generation has reached the
        // capped geometric interval (resolvedTail = 0 — an explicit
        // maxTail = 0 — keeps the historical always-at-minBatches
        // behavior)
        val due = resolvedTail <= 0 || versionOpt.exists { v =>
          val prevC = gens.filter(_ <= v).lastOption
          val covered = prevC.map(_ + 1).getOrElse(0L)
          val tail = v - prevC.getOrElse(-1L)
          tail >= math.min(resolvedTail.toLong,
            math.max(minBatches.toLong, covered))
        }
        if (!due) Some((sd, None, Seq.empty[Long]))
        else {
        val compacted = sd match {
          case "delta" =>
            compactSnapshot(spark, targetDir, targetFiles, minBatches,
              retainCompactions)
          case "rows" =>
            compactTable(spark, targetDir, targetFiles, minBatches,
              retainCompactions)
          case "stats" =>
            compactIndex(spark, targetDir, sd, Seq("file"), targetFiles,
              minBatches, retainCompactions)
          case "postings" | "df" =>
            compactIndex(spark, targetDir, sd, Seq("term"), targetFiles,
              minBatches, retainCompactions)
          case "assign" =>
            compactIndex(spark, targetDir, sd, Seq("cell_id"), targetFiles,
              minBatches, retainCompactions)
          case "index" =>
            val layer =
              if (gens.nonEmpty) s"$targetDir/compact/$sd/c=${gens.max}"
              else s"$targetDir/$sd/batch=${batches.min}"
            // a compacted generation STORES the batch column a raw
            // batch dir carries only as a partition — exclude it from
            // the id-column candidates in both shapes
            val idCols = spark.read.parquet(layer).schema.fieldNames.toSeq
              .filterNot(Set("sig", "shset", "batch"))
            require(idCols.size == 1,
              s"Streams.maintainArtifact: cannot infer the LSH id column " +
                s"of $targetDir/$sd (non-signature fields: " +
                s"${idCols.mkString(", ")}) — compact it explicitly with " +
                "compactIndex")
            compactIndex(spark, targetDir, sd, idCols, targetFiles,
              minBatches, retainCompactions)
        }
        val vacuumed =
          if (vacuum &&
              committedCompactions(spark, targetDir, sd).length >= 2)
            vacuumIndex(spark, targetDir, sd)
          else Nil
        Some((sd, compacted, vacuumed))
        }
      }
    }
  }

  /** Committed compaction generations under
    * `targetDir/compact/<subdir>` (nested per data subdirectory — a
    * sink with several compactable tables, e.g. bm25's postings + df,
    * keeps their generations apart) — `c=<id>` dirs gated by their
    * `_SUCCESS`, the [[snapshotVersions]] convention. */
  private def committedCompactions(spark: org.apache.spark.sql.SparkSession,
                                   targetDir: String,
                                   subdir: String): Array[Long] = {
    val path = new org.apache.hadoop.fs.Path(s"$targetDir/compact/$subdir")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Array.empty[Long]
    else fs.listStatus(path)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("c=") &&
        fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
      .map(_.getPath.getName.stripPrefix("c=").toLong)
  }

  /** `batch=<id>` partition directories currently on disk under a
    * batch-dir sink's data subdirectory. */
  private def listBatchDirs(spark: org.apache.spark.sql.SparkSession,
                            targetDir: String, subdir: String): Array[Long] = {
    val path = new org.apache.hadoop.fs.Path(s"$targetDir/$subdir")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Array.empty[Long]
    else fs.listStatus(path)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .map(_.getPath.getName.stripPrefix("batch=").toLong)
  }

  /** Compaction-aware resolution of a batch-dir index's rows as of
    * `version`: the freshest committed generation `c <= version`
    * (whole-corpus-clustered — IN-list probes prune to ~1 file) plus
    * only the batch dirs in `(c, version]`. With no committed
    * generation this is exactly the plain partitioned read the sinks
    * originally served — compaction is invisible to answers by
    * construction. */
  /** `evolving = true` (the merge-on-read table's and the partials'
    * read mode) allows missing-column-tolerant unions, so a target
    * whose sink gained ADDED nullable columns over time reads
    * deterministically — old layers surface the new columns as null
    * ([[layerReader]] picks the schema). The index sinks keep the
    * strict default: their schemas are fixed by construction, and a
    * drifted layer should fail loudly. */
  private def maintainedBatchRows(spark: org.apache.spark.sql.SparkSession,
                                  targetDir: String, subdir: String,
                                  version: Long,
                                  evolving: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.col
    def rd = layerReader(spark, targetDir, subdir, version, evolving)
    val cOpt = committedCompactions(spark, targetDir, subdir)
      .filter(_ <= version).sorted.lastOption
    cOpt match {
      case None =>
        rd.parquet(s"$targetDir/$subdir")
          .where(col("batch") <= version)
      case Some(c) =>
        val compacted = rd.parquet(s"$targetDir/compact/$subdir/c=$c")
        val tailIds = listBatchDirs(spark, targetDir, subdir)
          .filter(id => id > c && id <= version).sorted
        if (tailIds.isEmpty) compacted
        else {
          val basePath = s"$targetDir/$subdir"
          compacted.unionByName(
            rd.option("basePath", basePath)
              .parquet(tailIds.map(id => s"$basePath/batch=$id").toIndexedSeq: _*)
              .withColumn("batch", col("batch").cast("long")),
            allowMissingColumns = evolving)
        }
    }
  }

  /** The reader of a maintained target's layers as of `version`. A
    * merge table's version that recorded its read schema at commit
    * plans from that record: `batch` joins it as a long, no parquet
    * footer is opened, so building the read launches no Spark job.
    * Versions committed before schemas were recorded, and the other
    * evolving layouts, infer by merging every layer's footer schema
    * (one Spark job per `parquet(…)` call); the rest read strictly. */
  private def layerReader(spark: org.apache.spark.sql.SparkSession,
                          targetDir: String, subdir: String, version: Long,
                          evolving: Boolean)
      : org.apache.spark.sql.DataFrameReader =
    (if (subdir == "rows") recordedTableSchema(spark, targetDir, version)
     else None) match {
      case Some(s) => spark.read.schema(s.add("batch", LongType))
      case None if evolving => spark.read.option("mergeSchema", "true")
      case None => spark.read
    }

  /** The read schema merge-table version `version` recorded at commit
    * (`v=<id>/_schema`), None when it recorded none. */
  private def recordedTableSchema(spark: org.apache.spark.sql.SparkSession,
                                  targetDir: String,
                                  version: Long): Option[StructType] = {
    val p = new org.apache.hadoop.fs.Path(s"$targetDir/v=$version/$TableSchemaFile")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = try Some(fs.open(p)) catch {
      case _: java.io.FileNotFoundException => None
    }
    in.map { is =>
      try DataType.fromJson(new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(is),
        java.nio.charset.StandardCharsets.UTF_8)).asInstanceOf[StructType]
      finally is.close()
    }
  }

  /** The read schema a merge-table version `id` builds on: the record
    * of the newest committed version below `id`, inferred from that
    * version's layers instead (once, then recorded from there on) when
    * it recorded none — a table committed before schemas were
    * recorded. Empty before the first version. */
  private def tableSchemaBase(spark: org.apache.spark.sql.SparkSession,
                              targetDir: String, id: Long): StructType =
    snapshotVersions(spark, targetDir).filter(_ < id).maxOption match {
      case Some(p) => recordedTableSchema(spark, targetDir, p).getOrElse(
        StructType(maintainedBatchRows(spark, targetDir, "rows", p,
          evolving = true).schema.filterNot(_.name == "batch")))
      case None => new StructType()
    }

  /** Whether a write below `id` is still uncommitted: a claimed version
    * or a layer between the newest committed version and `id`. Its
    * files may not be visible yet (a write lands under the committer's
    * `_temporary` first), so no record built now can carry its
    * columns — `id` then records none and its reads infer. */
  private def uncommittedBelow(spark: org.apache.spark.sql.SparkSession,
                               targetDir: String, id: Long): Boolean = {
    val prev = snapshotVersions(spark, targetDir).filter(_ < id).maxOption
      .getOrElse(-1L)
    val root = new org.apache.hadoop.fs.Path(targetDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versionDirs = fs.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith("v=")).map(_.stripPrefix("v=").toLong)
    (versionDirs ++ listBatchDirs(spark, targetDir, "rows"))
      .exists(b => b > prev && b < id)
  }

  /** `base` plus the columns `layer` adds, appended in its order — the
    * read schema a merge-table commit records, merged as parquet schema
    * merging merges footers, nullable throughout as every parquet read
    * is. A column whose type changes is refused: the layers could no
    * longer be read under one schema. */
  private def evolveTableSchema(base: StructType, layer: StructType,
                                who: String): StructType = {
    import org.apache.spark.sql.graftshim.Shim
    val fields = Shim.asNullable(layer)
    try Shim.mergeSchemas(base, fields) catch {
      case e: org.apache.spark.SparkException =>
        val clash = fields.iterator.flatMap(f =>
          base.find(_.name == f.name).map(_ -> f)).find { case (b, f) =>
          scala.util.Try(Shim.mergeSchemas(StructType(Seq(b)),
            StructType(Seq(f)))).isFailure
        }
        clash.fold(throw e) { case (b, f) =>
          throw new IllegalArgumentException(s"$who: column '${f.name}' " +
            s"changes type from ${b.dataType.simpleString} to " +
            s"${f.dataType.simpleString} — schema evolution may only ADD " +
            "nullable columns or struct fields; nothing was published", e)
        }
    }
  }

  /** Underscore-prefixed so parquet readers of the version directory
    * skip it as metadata. */
  private val ManifestFile = "_files"
  private val TableSchemaFile = "_schema"
  private val FreshnessFile = "_freshness"
  private val LayoutFile = "_layout"

  /** The on-disk self-description of a partials-layout agg-snapshot
    * target ([[aggSnapshotSink]] / [[aggSnapshotSinkAppendOnly]]):
    * everything a reader needs to fold `delta/batch=<id>/` partials
    * back into snapshot rows without being told the sink's
    * configuration — the key columns (column roles then follow from
    * the [[graft.ops.Cdc.aggSnapshot]] naming convention), the
    * fixed-point scale, the KMV sketch bound, and whether the stream
    * carries retractions (`retract` ⇒ fully-retracted keys sum to
    * cnt = 0 and must be dropped at merge). Written once, first
    * trigger; key names must not contain commas (the one encoding
    * restriction of the plain-text marker). */
  final case class AggLayout(retract: Boolean, keys: Seq[String],
                             scale: Int, kmvK: Int)

  /** The on-disk self-description of a [[mergeSink]] merge-on-read
    * table target: the key columns, the intra-batch ordering column,
    * and the tombstone flag — everything [[latestTable]] /
    * [[compactTable]] / [[maintainArtifact]] need to resolve layers
    * without being told the sink's configuration. Same plain-text
    * marker discipline as [[AggLayout]] (no commas in column names). */
  final case class MergeLayout(keys: Seq[String], seqCol: String,
                               deleteCol: String)

  private val MergeFile = "_merge"

  private def writeMergeLayout(spark: org.apache.spark.sql.SparkSession,
                               targetDir: String, layout: MergeLayout): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$targetDir/$MergeFile")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    mergeLayoutOf(spark, targetDir) match {
      case Some(existing) =>
        // a sink restarted with DIFFERENT key/seq/delete configuration
        // would write rows the resolution then mis-orders or mis-drops
        // — fail at the first trigger, like the agg-partials marker
        require(existing == layout,
          s"merge sink: $targetDir was built with $existing but this sink " +
            s"is configured as $layout — mixing layouts would corrupt " +
            "latest-wins resolution; use a fresh target (or the original " +
            "configuration)")
      case None =>
        (layout.keys :+ layout.seqCol :+ layout.deleteCol).foreach(k =>
          require(!k.contains(","),
            s"merge sink: column '$k' contains a comma — the _merge " +
              "marker cannot encode it"))
        val out = fs.create(p, true)
        try out.write((s"layout=merge-rows\nkeys=${layout.keys.mkString(",")}\n" +
          s"seq=${layout.seqCol}\ndelete=${layout.deleteCol}\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
    }
  }

  /** The [[MergeLayout]] marker of a [[mergeSink]] target, or None for
    * targets on other layouts. */
  def mergeLayoutOf(spark: org.apache.spark.sql.SparkSession,
                    targetDir: String): Option[MergeLayout] = {
    val p = new org.apache.hadoop.fs.Path(s"$targetDir/$MergeFile")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text = try new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      val kv = text.split("\n").iterator.map(_.trim).filter(_.contains("="))
        .map { l =>
          val i = l.indexOf('='); (l.substring(0, i), l.substring(i + 1))
        }.toMap
      if (!kv.get("layout").contains("merge-rows")) None
      else Some(MergeLayout(
        kv("keys").split(",").toIndexedSeq.filter(_.nonEmpty),
        kv("seq"), kv("delete")))
    }
  }

  private def writeAggLayout(spark: org.apache.spark.sql.SparkSession,
                             targetDir: String, layout: AggLayout): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$targetDir/$LayoutFile")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    aggLayoutOf(spark, targetDir) match {
      case Some(existing) =>
        // a sink restarted with DIFFERENT configuration against an
        // existing target would write partials in other units next to
        // the old ones and the fold would silently mix them (e.g.
        // scale=3 sums added to scale=2 sums are off by 10×) — the
        // loud per-batch scale check the old eager-refresh path
        // performed, reinstated at the layout marker
        require(existing == layout,
          s"agg snapshot sink: $targetDir was built with $existing but " +
            s"this sink is configured as $layout — mixing layouts would " +
            "silently corrupt the folded sums; use a fresh target (or " +
            "the original configuration)")
      case None =>
        layout.keys.foreach(k => require(!k.contains(","),
          s"agg snapshot sink: key column '$k' contains a comma — the " +
            "_layout marker cannot encode it"))
        val out = fs.create(p, true)
        try out.write((s"layout=agg-partials\nretract=${layout.retract}\n" +
          s"scale=${layout.scale}\nkmvK=${layout.kmvK}\n" +
          s"keys=${layout.keys.mkString(",")}\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
    }
  }

  /** The [[AggLayout]] marker of a partials-layout snapshot target, or
    * None for targets on other layouts (fixed snapshots, [[upsertSink]],
    * [[ivfStatsSink]] — whose `v=<id>` dirs hold the data directly). */
  def aggLayoutOf(spark: org.apache.spark.sql.SparkSession,
                  targetDir: String): Option[AggLayout] = {
    val p = new org.apache.hadoop.fs.Path(s"$targetDir/$LayoutFile")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text = try new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      val kv = text.split("\n").iterator.map(_.trim).filter(_.contains("="))
        .map { l =>
          val i = l.indexOf('='); (l.substring(0, i), l.substring(i + 1))
        }.toMap
      if (!kv.get("layout").contains("agg-partials")) None
      else Some(AggLayout(kv("retract").toBoolean,
        kv("keys").split(",").toIndexedSeq.filter(_.nonEmpty),
        kv("scale").toInt, kv("kmvK").toInt))
    }
  }

  /** The merge that folds a partials-layout snapshot's layers —
    * compaction's transform and the one-row-per-key read both use it,
    * so a compacted generation is bit-identical to folding the batch
    * dirs it covers. */
  private def mergePartialsFor(layout: AggLayout, keepBatch: Boolean)
      : DataFrame => DataFrame = df =>
    graft.ops.Cdc.mergeSnapshotPartials(df, layout.keys, layout.scale,
      layout.kmvK, dropEmpty = layout.retract,
      extraMax = if (keepBatch) Seq("batch") else Nil)

  /** The rows a committed snapshot version resolves to, across layouts.
    * For a partials-layout target (the agg-snapshot sinks) the version's
    * `delta/batch=<id>` dirs `<= id` plus the freshest covering
    * compaction generation are read ([[maintainedBatchRows]]); a
    * retraction stream's layers are pre-folded per key (fully-retracted
    * keys vanish, exactly like the eager refresh), while an append-only
    * stream's rows come back as RAW partials — possibly several rows
    * per key whose combinable columns (cnt/sums add, min/max combine,
    * sketches union) any mergeable re-aggregation folds for free; a
    * consumer that needs one row per key uses [[latestSnapshot]].
    * Other layouts ([[upsertSink]], [[ivfStatsSink]], hand-written
    * snapshots) read the version directory's parquet directly. */
  def readSnapshotVersion(spark: org.apache.spark.sql.SparkSession,
                          versionPath: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(versionPath)
    val name = p.getName
    val parent = Option(p.getParent).map(_.toString)
    val layoutOpt =
      if (name.startsWith("v=")) parent.flatMap(aggLayoutOf(spark, _))
      else None
    layoutOpt match {
      case Some(l) =>
        val v = name.stripPrefix("v=").toLong
        val rows = maintainedBatchRows(spark, parent.get, "delta", v,
          evolving = true).drop("batch")
        if (l.retract) mergePartialsFor(l, keepBatch = false)(rows) else rows
      case None => spark.read.parquet(versionPath)
    }
  }

  /** What a committed snapshot version corresponds to on the source
    * stream: its batch id and the checkpoint's offsets-log entry for
    * that batch (the authoritative "read up to here" record). */
  final case class SnapshotFreshness(version: Long, offsetsJson: String)

  /** Copy the checkpoint's offsets-log entry for `batchId` next to the
    * just-committed version so staleness is readable off the target
    * directory alone. Best-effort: a missing offsets file (foreign
    * checkpoint layout) writes nothing — freshnessOf then returns
    * None for the version, never a wrong answer. */
  private def writeFreshness(spark: org.apache.spark.sql.SparkSession,
                             targetDir: String, checkpoint: String,
                             batchId: Long): Unit =
    // best-effort MEANS best-effort: freshness recording runs inside
    // foreachBatch, and an exception here would fail the streaming
    // batch itself — swallow-and-warn, never propagate
    try {
      val off = new org.apache.hadoop.fs.Path(s"$checkpoint/offsets/$batchId")
      val fs = off.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(off)) {
        val in = fs.open(off)
        val text = try new String(
            org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
            java.nio.charset.StandardCharsets.UTF_8)
          finally in.close()
        val dst = new org.apache.hadoop.fs.Path(
          s"$targetDir/v=$batchId/$FreshnessFile")
        // checkpoint and target may live on DIFFERENT filesystems
        // (local checkpoint, object-store target) — resolve the writer
        // from the destination, not the source
        val dstFs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val out = dstFs.create(dst, true)
        try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
      }
    } catch {
      case scala.util.control.NonFatal(ex) =>
        logWarning(s"writeFreshness: could not record freshness for " +
          s"batch $batchId under $targetDir (${ex.getMessage}) — " +
          "freshnessOf will return None for this version")
    }

  /** The freshness record of the LATEST committed snapshot version
    * under `targetDir` — how far behind the stream a
    * [[graft.plans.MvRewrite.registerVersioned]] view's answers are.
    * The append-only sink offers exactly-current composition instead
    * ([[graft.plans.MvRewrite.registerVersionedFresh]]); the ±op
    * retraction sink cannot (file-tail composition is unsound under
    * retractions), so lag-gating on this record is its contract.
    * None when no version has committed or the version predates
    * freshness accounting. */
  def freshnessOf(spark: org.apache.spark.sql.SparkSession,
                  targetDir: String): Option[SnapshotFreshness] =
    snapshotVersions(spark, targetDir).sorted.lastOption.flatMap { v =>
      val p = new org.apache.hadoop.fs.Path(s"$targetDir/v=$v/$FreshnessFile")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val text = try new String(
            org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
            java.nio.charset.StandardCharsets.UTF_8)
          finally in.close()
        Some(SnapshotFreshness(v, text))
      }
    }

  /** [[freshnessOf]] parsed into the fields a lag GATE compares —
    * "answers may trail by at most N files / the stream must be past
    * offset X" becomes one comparison instead of caller-side JSON
    * archaeology. `sourceLogOffsets` is one entry per source in plan
    * order: the file/rate source's `logOffset` when the offset is the
    * standard JSON object, None for opaque offset encodings (a
    * MemoryStream serializes a bare ordinal — surfaced as the number
    * itself). `pendingFiles` is the count of base files the version's
    * `_files` manifest has NOT covered (the exact tail
    * [[graft.plans.MvRewrite.registerVersionedFresh]] would read);
    * None when the version has no manifest or no `basePath` was
    * given. */
  final case class SnapshotLag(version: Long,
                               sourceLogOffsets: Seq[Option[Long]],
                               pendingFiles: Option[Long])

  def freshnessLagOf(spark: org.apache.spark.sql.SparkSession,
                     targetDir: String,
                     basePath: Option[String] = None): Option[SnapshotLag] =
    freshnessOf(spark, targetDir).map { f =>
      // OffsetSeqLog layout: "v1" header, one metadata line
      // (batchWatermarkMs/batchTimestampMs/conf), then ONE line per
      // source with its offset json
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val lines = f.offsetsJson.split("\n").map(_.trim).filter(_.nonEmpty)
      val sourceLines = lines.drop(2)
      val offsets = sourceLines.toSeq.map { l =>
        try {
          val node = mapper.readTree(l)
          if (node.isNumber) Some(node.asLong())
          else Option(node.get("logOffset")).map(_.asLong())
        } catch { case scala.util.control.NonFatal(_) => None }
      }
      val pending = basePath.flatMap { bp =>
        snapshotManifest(spark, s"$targetDir/v=${f.version}").map { covered =>
          def norm(p: String): String = new org.apache.hadoop.fs.Path(p).toString
          spark.read.parquet(bp).inputFiles.map(norm)
            .count(!covered.contains(_)).toLong
        }
      }
      SnapshotLag(f.version, offsets, pending)
    }

  /** Files the FILE stream source ingested in `batchId`, from its own
    * checkpoint log (`<checkpoint>/sources/0/<batchId>`, JSON lines) —
    * the authoritative record of per-batch file coverage. Every
    * `compactInterval`-th batch the source writes `<id>.compact`
    * holding ALL entries so far instead; either form serves the
    * CUMULATIVE manifest (a superset union is still the covered set).
    * None for non-file sources (no such log) — fresh composition is
    * then honestly unavailable. None ALSO for any multi-source plan:
    * `sources/0` exists whenever the FIRST source is a file source, so
    * a stream unioning a second source would otherwise write a manifest
    * understating coverage (fresh answers double-counting the covered
    * rows in the tail) — the `sources/1` existence check makes
    * off-contract streams degrade instead. */
  private def sourceBatchFiles(spark: org.apache.spark.sql.SparkSession,
                               checkpoint: String,
                               batchId: Long): Option[Seq[String]] = {
    val dir = s"$checkpoint/sources/0"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$checkpoint/sources/1"))) {
      logWarning(s"sourceBatchFiles: $checkpoint has more than one source — " +
        "file coverage is undefined for a multi-source plan; no manifest")
      return None
    }
    val candidates = Seq(s"$dir/$batchId", s"$dir/$batchId.compact")
      .map(new org.apache.hadoop.fs.Path(_))
    candidates.find(fs.exists).map { p =>
      val in = fs.open(p)
      val text = try new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      text.split("\n").iterator
        .map(_.trim).filter(l => l.startsWith("{"))
        .flatMap(l => Option(mapper.readTree(l).get("path")).map(_.asText()))
        .map(f => new org.apache.hadoop.fs.Path(f).toString)
        .toSeq
    }
  }

  /** The cumulative ingested-file manifest of one committed snapshot
    * version directory (None when the version predates manifest
    * accounting or its write was lost) — the coverage record
    * [[graft.plans.MvRewrite.registerVersionedFresh]] subtracts from
    * the base listing to find the not-yet-ingested tail. */
  def snapshotManifest(spark: org.apache.spark.sql.SparkSession,
                       versionDir: String): Option[Set[String]] = {
    val mf = new org.apache.hadoop.fs.Path(s"$versionDir/$ManifestFile")
    val fs = mf.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(mf)) None
    else {
      val in = fs.open(mf)
      try {
        val bytes = org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
        Some(new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
          .split("\n").iterator.map(_.trim).filter(_.nonEmpty).toSet)
      } finally in.close()
    }
  }

  /** ONE normalized listing of an ingestion base directory — the
    * PINNED CORPUS STATE for consistent cross-artifact reads. Each
    * maintained artifact trails ingestion independently (the BM25 sink
    * may be a microbatch behind the LSH sink, the ANN sink ahead of
    * both), and each `*Fresh` read does its own base listing — so two
    * reads inside one pipeline step can answer over two different
    * corpus states (classic read skew: a doc ranked by retrieval but
    * invisible to the dedup check, or vice versa). Capture the pin
    * once and pass it to [[bm25SearchFresh]] / [[nearDupsFresh]] /
    * [[ivfPqSearchFresh]]: every artifact then answers over EXACTLY
    * the pinned file set — served from the newest retained version
    * whose coverage manifest is contained in the pin (walking BACK
    * when that index already ran ahead of it) plus the pin-only tail
    * composed on the fly. Files that land after the pin are invisible
    * even when an index already serves them, so the answers are
    * mutually consistent, as if the corpus froze at the listing.
    * Pin lifetime is bounded by the sinks' version retention (an old
    * pin refuses loudly rather than guessing) and by corpus deletes
    * (a pinned file that was physically removed fails its read —
    * re-pin after [[graft.ops.Layout.targetedDelete]]). */
  def corpusPin(spark: org.apache.spark.sql.SparkSession,
                baseDir: String): Seq[String] = {
    def norm(p: String): String = new org.apache.hadoop.fs.Path(p).toString
    spark.read.parquet(baseDir).inputFiles.map(norm).sorted.toIndexedSeq
  }

  /** The newest retained version of a maintained artifact whose
    * coverage manifest is CONTAINED IN the pinned file set, with that
    * coverage — the version a [[corpusPin]]-consistent read serves
    * from (its tail is `pin -- covered`, composed on the fly). Walks
    * versions newest-first; a version with no manifest cannot PROVE
    * containment and is skipped (unverifiable coverage is not
    * coverage). Refuses loudly when nothing qualifies — the pin
    * predates the retention window — and applies the same
    * oldest-generation bound as time travel: a qualifying version
    * whose batch dirs may have been vacuumed is an error, never a
    * silently incomplete read. */
  private def versionAtPin(spark: org.apache.spark.sql.SparkSession,
                           targetDir: String, subdirs: Seq[String],
                           pin: Set[String], caller: String)
      : (Long, Set[String]) = {
    val retained = snapshotVersions(spark, targetDir).sorted
    if (retained.isEmpty) throw new IllegalStateException(
      s"$caller: no committed index version under $targetDir")
    val hit = retained.reverseIterator.flatMap { v =>
      snapshotManifest(spark, s"$targetDir/v=$v")
        .filter(_.subsetOf(pin)).map(cov => (v, cov))
    }.nextOption().getOrElse(throw new IllegalStateException(
      s"$caller: no retained version under $targetDir is covered by the " +
        s"pinned corpus state (${pin.size} files) — every retained version " +
        "either indexes files beyond the pin or carries no coverage " +
        "manifest; the pin predates the retention window (raise the " +
        "sink's retainVersions, or re-pin)"))
    resolveVersion(spark, targetDir, subdirs, Some(hit._1), caller)
    hit
  }

  /** Shared by the `*Fresh` read paths: the (version, coverage) a
    * fresh or PINNED read serves from — pinned: [[versionAtPin]]'s
    * newest-contained walk-back; unpinned: the freshest committed
    * version and its manifest, refusing loudly when it carries none
    * (non-file or multi-source ingestion — fresh composition would be
    * a guess; use the maintained search and gate on
    * [[freshnessLagOf]] instead). */
  /** Fresh-composition mutation guard shared by the `*Fresh` readers'
    * latest-version path: every file the manifest covers must still
    * EXIST in the live base listing. A covered file that vanished
    * means the base was REWRITTEN under the manifest
    * ([[graft.ops.Layout.targetedDelete]] / offline compaction): the
    * vanished file's SURVIVING rows sit both in the index (covered)
    * and in its rewrite-output files (un-covered tail), so composing
    * would double-count them — doubled BM25 df/tf, duplicate ANN/LSH
    * candidates, doubled MV contributions. [[forget]]'s corpus leg is
    * PATH-STABLE ([[graft.ops.Layout.targetedDeleteInPlace]]) exactly
    * so this never fires under it; an append-new
    * [[graft.ops.Layout.targetedDelete]] or offline compaction of a
    * manifest-covered base needs a sink re-run or rebuild before
    * fresh serving. The pin path needs no guard: [[versionAtPin]]
    * only accepts versions whose coverage is contained in the pin. */
  private def requireCoverageLive(covered: Set[String], live: Set[String],
                                  targetDir: String, caller: String): Unit = {
    val vanished = covered.diff(live)
    require(vanished.isEmpty,
      s"$caller: ${vanished.size} file(s) covered by $targetDir's " +
        "coverage manifest no longer exist in the base (e.g. " +
        s"${vanished.take(3).mkString(", ")}) — the base was rewritten " +
        "under the manifest (append-new targetedDelete/compaction), and " +
        "fresh composition would double-count the rewritten files' " +
        "surviving rows; use forget / targetedDeleteInPlace (path-stable) " +
        "for watched corpora, or rebuild the artifact (versioned reads " +
        "stay exact)")
  }

  private def resolveFreshCoverage(spark: org.apache.spark.sql.SparkSession,
                                   targetDir: String, subdirs: Seq[String],
                                   pin: Option[Seq[String]], caller: String)
      : (Long, Set[String]) = {
    def norm(p: String): String = new org.apache.hadoop.fs.Path(p).toString
    pin match {
      case Some(p) =>
        versionAtPin(spark, targetDir, subdirs, p.map(norm).toSet, caller)
      case None =>
        val v = snapshotVersions(spark, targetDir).sorted.lastOption.getOrElse(
          throw new IllegalStateException(
            s"$caller: no committed index version under $targetDir"))
        (v, snapshotManifest(spark, s"$targetDir/v=$v").getOrElse(
          throw new IllegalStateException(
            s"$caller: version $v under $targetDir has no file-coverage " +
              "manifest — fresh composition is unavailable (non-file or " +
              "multi-source ingestion); use the maintained search and " +
              "gate on freshnessLagOf instead")))
    }
  }

  /** Maintain incremental-IVF per-cell membership stats as a versioned
    * snapshot under an embedding STREAM — the streaming form of
    * [[graft.ops.Similarity.ivfCellStats]] + `ivfCellStatsMerge`: each
    * microbatch of (vec_id, embedding) rows is assigned to cells under
    * the FROZEN trained state (broadcast; one narrow pass, the corpus
    * never reshuffles or retrains) and folded into the latest
    * (cell_id, n, sv) stats version. Same versioned-write replay
    * idempotence and retention as [[aggSnapshotSink]]; read the
    * re-seed decision off any committed version with
    * [[graft.ops.Similarity.ivfDriftReport]] /
    * [[graft.ops.Similarity.ivfReseed]]. */
  def ivfStatsSink(rows: DataFrame, targetDir: String, checkpoint: String,
                   sums: Array[Array[Long]], counts: Array[Long],
                   dim: Int = 64, retainVersions: Int = 3): StreamingQuery = {
    require(retainVersions >= 2,
      "ivfStatsSink: must retain >= 2 versions (replay needs the predecessor)")
    toVersionedSink(rows, checkpoint, targetDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      val versions = snapshotVersions(spark, targetDir).filter(_ < batchId)
      val batchStats = graft.ops.Similarity.ivfCellStats(batch, sums, counts, dim)
      val merged = versions.sorted.lastOption match {
        case Some(v) => graft.ops.Similarity.ivfCellStatsMerge(
          spark.read.parquet(s"$targetDir/v=$v"), batchStats, dim)
        case None => batchStats
      }
      merged.write.mode("overwrite").parquet(s"$targetDir/v=$batchId")
      val path = new org.apache.hadoop.fs.Path(targetDir)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      snapshotVersions(spark, targetDir).sorted.dropRight(retainVersions)
        .foreach(v => fs.delete(
          new org.apache.hadoop.fs.Path(s"$targetDir/v=$v"), true))
    }
  }

  /** Path of the latest committed snapshot version under `targetDir`
    * (for [[graft.plans.MvRewrite.register]]). */
  def latestSnapshotPath(spark: org.apache.spark.sql.SparkSession,
                         targetDir: String): Option[String] =
    snapshotVersions(spark, targetDir).sorted.lastOption
      .map(v => s"$targetDir/v=$v")

  /** Latest committed snapshot in `targetDir`, resolved to ONE row per
    * key whatever the layout: a partials-layout agg-snapshot target
    * folds its `delta/` layers per key
    * ([[graft.ops.Cdc.mergeSnapshotPartials]] — exact, so the result
    * equals the one-shot rebuild bit-for-bit except the documented
    * HLL-bytes/KLL-rank caveats); an [[upsertSink]] / [[ivfStatsSink]]
    * target reads its latest version directory directly. None before
    * the first committed batch. */
  def latestSnapshot(spark: org.apache.spark.sql.SparkSession,
                     targetDir: String): Option[DataFrame] = {
    snapshotVersions(spark, targetDir)
      .sorted.lastOption
      .map(snapshotAtVersion(spark, targetDir, _))
  }

  /** TIME TRAVEL: the snapshot as of one RETAINED committed version —
    * "what did this MV serve last trigger / before that backfill",
    * answered off the versioned layout the sinks already maintain (the
    * `v=<id>/_SUCCESS` markers ARE a version log; serving any retained
    * one costs nothing extra). Works across layouts like
    * [[latestSnapshot]]: a partials-layout target folds only the
    * `delta/batch=<id>` layers (and covering generation) `<= version`
    * — later batches are invisible, so the result is bit-identical to
    * what [[latestSnapshot]] returned when `version` WAS the latest; an
    * [[upsertSink]] / [[ivfStatsSink]] target reads the version
    * directory directly. The travel window is bounded by the sinks'
    * `retainVersions` AND, for a compacted partials target, the OLDEST
    * retained generation: a version older than it may depend on batch
    * dirs [[vacuumIndex]] has freed, and a missing layer is
    * indistinguishable from an empty batch — so travel below the
    * oldest generation throws rather than serving a silently
    * incomplete fold (versions at or above it are always whole: vacuum
    * never frees dirs beyond the oldest generation). Asking for an
    * uncommitted or expired version likewise throws, listing what IS
    * retained — never a wrong nearest-neighbor answer. */
  def snapshotAsOf(spark: org.apache.spark.sql.SparkSession,
                   targetDir: String, version: Long): DataFrame = {
    val subdirs =
      if (aggLayoutOf(spark, targetDir).isDefined) Seq("delta")
      else if (mergeLayoutOf(spark, targetDir).isDefined) Seq("rows")
      else Nil
    resolveVersion(spark, targetDir, subdirs, Some(version),
      "Streams.snapshotAsOf")
    snapshotAtVersion(spark, targetDir, version)
  }

  /** Version resolution shared by every maintained-artifact read path:
    * `asOf = None` serves the freshest committed version (the default
    * everywhere); `asOf = Some(v)` TIME-TRAVELS to `v`, refusing
    * loudly when `v` is uncommitted/expired or — for batch-dir layouts
    * — predates the oldest retained compaction generation of any of
    * `subdirs` (its batch dirs may have been vacuumed, and a missing
    * layer is indistinguishable from an empty batch: the read would be
    * silently incomplete; versions at or above the oldest generation
    * are always whole — vacuum never frees beyond it). */
  private def resolveVersion(spark: org.apache.spark.sql.SparkSession,
                             targetDir: String, subdirs: Seq[String],
                             asOf: Option[Long], caller: String): Long = {
    val retained = snapshotVersions(spark, targetDir).sorted
    asOf match {
      case None => retained.lastOption.getOrElse(
        throw new IllegalStateException(
          s"$caller: no committed index version under $targetDir"))
      case Some(v) =>
        require(retained.contains(v),
          s"$caller: version $v is not a retained committed version under " +
            s"$targetDir (retained: ${retained.mkString(", ")}) — raise the " +
            "sink's retainVersions to widen the travel window")
        subdirs.foreach { sd =>
          val cs = committedCompactions(spark, targetDir, sd)
          require(cs.isEmpty || v >= cs.min,
            s"$caller: version $v predates the oldest retained compaction " +
              s"generation (c=${cs.min}) of $targetDir/$sd — its batch dirs " +
              "may have been vacuumed, so the read could be silently " +
              s"incomplete; travel is available at versions >= ${cs.min} " +
              "(raise retainCompactions to keep older generations)")
        }
        v
    }
  }

  /** Committed, still-retained snapshot versions under a versioned
    * sink's target, oldest first — the travel window [[snapshotAsOf]]
    * accepts, as data (one row per `v=<id>/_SUCCESS` marker). */
  def snapshotVersionsOf(spark: org.apache.spark.sql.SparkSession,
                         targetDir: String): Seq[Long] =
    snapshotVersions(spark, targetDir).sorted.toSeq

  private def snapshotAtVersion(spark: org.apache.spark.sql.SparkSession,
                                targetDir: String, v: Long): DataFrame =
    aggLayoutOf(spark, targetDir) match {
      case Some(l) => mergePartialsFor(l, keepBatch = false)(
        maintainedBatchRows(spark, targetDir, "delta", v, evolving = true)
          .drop("batch"))
      case None => mergeLayoutOf(spark, targetDir) match {
        // a mergeSink target's v= dirs hold only markers — resolve its
        // rows/ layers instead (same answer latestTable(asOf) serves)
        case Some(ml) => mergeResolveFor(ml)(
          maintainedBatchRows(spark, targetDir, "rows", v, evolving = true))
          .drop("batch", ml.seqCol, ml.deleteCol)
        case None => spark.read.parquet(s"$targetDir/v=$v")
      }
    }

  /** Committed `v=<batchId>` snapshot versions under `targetDir`,
    * listed through the Hadoop filesystem of the path's scheme —
    * java.io.File would silently list nothing on a non-local URI
    * (hdfs://, s3a://) and every batch would then merge against an
    * empty target, losing the accumulated snapshot chain.
    *
    * Only versions whose `_SUCCESS` marker exists count as committed:
    * a version the stream is concurrently writing (or overwrite-
    * replaying — overwrite deletes the marker first) must be invisible
    * both to the next batch's predecessor lookup and to
    * [[latestSnapshotPath]] resolving a read path at query-optimization
    * time, or a reader could land on a partial parquet directory. */
  private def snapshotVersions(spark: org.apache.spark.sql.SparkSession,
                               targetDir: String): Array[Long] = {
    val path = new org.apache.hadoop.fs.Path(targetDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Array.empty[Long]
    else fs.listStatus(path)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v=") &&
        fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
      .map(_.getPath.getName.stripPrefix("v=").toLong)
  }

  /** Observability: named metrics evaluated per batch/trigger without a
    * second pass over the data (`Dataset.observe`); read them from
    * `StreamingQueryProgress.observedMetrics` or a QueryExecutionListener. */
  def withMetrics(df: DataFrame, name: String, metrics: Seq[Column]): DataFrame =
    df.observe(name, metrics.head, metrics.tail: _*)

  // ---- Late-data accounting (Flink side-output equivalent) --------------

  /** Rows this query's watermarked stateful operators have dropped as
    * late, summed over the triggers still in `recentProgress` (Spark's
    * per-operator `numRowsDroppedByWatermark` — no extra pass over the
    * data). Two limits, both Spark's:
    *  - it counts late (window, key) GROUPS, not late events: the drop
    *    happens at the stateful operator's input, after the trigger's
    *    partial aggregation, so two late events of one key and one
    *    closed window count as 1;
    *  - `recentProgress` keeps only the last
    *    `spark.sql.streaming.numRecentProgressUpdates` (100) reports,
    *    idle ones included, so on a longer stream the sum undercounts —
    *    poll per trigger (or listen) for a lifetime total.
    * [[captureLateRows]] hands over the late events themselves. Closes
    * half of the documented side-output divergence (SURVEY §7.4 item
    * 2): Spark drops late rows silently; this makes the drop visible. */
  def lateRowsDropped(q: StreamingQuery): Long =
    q.recentProgress.iterator
      .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark))
      .sum

  /** The capture half of the side-output equivalent: a foreachBatch
    * query over the SAME source that replicates Spark's watermark
    * advancement rule — watermark for trigger n = (max event time over
    * triggers < n) − delay, never decreasing — and hands each batch's
    * late rows (those an aggregation with the same `delayMs` would
    * drop) to `onLate`.
    *
    * The classifier watermark is PERSISTED per batch under
    * `<checkpoint>/graft-watermark/<batchId>` (pre-batch value first,
    * post-batch appended once known), mirroring what a real watermarked
    * operator recovers from its commit log: a restart resumes from the
    * recorded watermark instead of −∞, and a replayed batch (failure
    * before the sink commit) re-classifies with the SAME pre-batch
    * watermark as the original attempt — no row changes verdict across
    * restarts. The batch is cached across the two passes (late filter +
    * max aggregate) so the source is read once per trigger. */
  def captureLateRows(events: DataFrame, tsCol: String, delayMs: Long,
                      checkpoint: String)(onLate: DataFrame => Unit): StreamingQuery = {
    val dir = new java.io.File(checkpoint, "graft-watermark")
    dir.mkdirs()
    def parse(f: java.io.File): Array[Long] =
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .trim.split(",").filter(_.nonEmpty).map(_.toLong)
    def writeAtomic(f: java.io.File, content: String): Unit = {
      val tmp = new java.io.File(f.getParentFile, f.getName + ".tmp")
      java.nio.file.Files.write(tmp.toPath, content.getBytes("UTF-8"))
      java.nio.file.Files.move(tmp.toPath, f.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    // recover: newest batch's post-watermark (or its pre-watermark if
    // the run died between classify and advance)
    var watermarkMs = dir.listFiles((_, n) => n.forall(_.isDigit)) match {
      case null => Long.MinValue
      case fs if fs.isEmpty => Long.MinValue
      case fs =>
        val vs = parse(fs.maxBy(_.getName.toLong))
        if (vs.length >= 2) vs(1) else vs.headOption.getOrElse(Long.MinValue)
    }
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val f = new java.io.File(dir, batchId.toString)
        // a replayed batch classifies with its original pre-batch
        // watermark, not whatever the interrupted attempt advanced to
        val cur = if (f.exists()) parse(f).headOption.getOrElse(watermarkMs)
                  else { writeAtomic(f, watermarkMs.toString); watermarkMs }
        val cached = batch.persist()
        try {
          if (cur > Long.MinValue)
            onLate(cached.filter(unix_millis(col(tsCol).cast("timestamp")) < cur))
          else
            onLate(cached.limit(0))
          val mx = cached.agg(max(unix_millis(col(tsCol).cast("timestamp")))).head()
          watermarkMs =
            if (mx.isNullAt(0)) cur else math.max(cur, mx.getLong(0) - delayMs)
          writeAtomic(f, s"$cur,$watermarkMs")
          // bound the dir: only the latest file is ever read on recovery,
          // earlier ones exist for replays of their own batch id
          Option(dir.listFiles((_, n) => n.forall(_.isDigit)))
            .foreach(_.filter(_.getName.toLong < batchId - 2).foreach(_.delete()))
        } finally cached.unpersist()
      }
      .start()
  }

  // ---- Portable state export (savepoint equivalent) ---------------------

  /** Keyed state of a (stopped or running) query's stateful operator,
    * read straight out of its checkpoint via Spark's state data source:
    * one row per state entry with `key` / `value` structs. The
    * reference's savepoint surface ("portable state export",
    * …DataSource分析.md:363-387) maps to this + [[exportState]]:
    * checkpoints stay engine-internal for restart, but the STATE ITSELF
    * is inspectable and exportable as plain columns. (Import stays
    * checkpoint-restart — Spark exposes no public state writer.) */
  def readState(spark: org.apache.spark.sql.SparkSession, checkpoint: String,
                operatorId: Int = 0, batchId: Option[Long] = None): DataFrame = {
    val r = spark.read.format("statestore")
      .option("operatorId", operatorId)
    batchId.foreach(b => r.option("batchId", b))
    r.load(checkpoint)
  }

  /** Savepoint-style export: dump an operator's keyed state to parquet —
    * portable, schema'd, joinable (e.g. seed a new pipeline's reference
    * corpus from a streaming dedup's seen-set). */
  def exportState(spark: org.apache.spark.sql.SparkSession, checkpoint: String,
                  outPath: String, operatorId: Int = 0): Unit =
    readState(spark, checkpoint, operatorId)
      .write.mode("overwrite").parquet(outPath)

  /** Savepoint IMPORT: decode a state export ([[exportState]] parquet,
    * one row per entry with `key`/`value` structs) into the typed
    * (key, state) Dataset that seeds a new query via the initial-state
    * overloads (e.g. [[rollingReduceWithInitial]]). The caller supplies
    * the struct decoders because the export's column layout is the
    * state ENCODER's schema, which only the owning pipeline knows. */
  def importState[K: Encoder, S: Encoder](
      spark: org.apache.spark.sql.SparkSession, path: String)(
      decode: (org.apache.spark.sql.Row, org.apache.spark.sql.Row) => (K, S))(
      implicit e: Encoder[(K, S)]): Dataset[(K, S)] = {
    val raw = spark.read.parquet(path)
    val valueType = raw.schema("value").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    // flatMapGroupsWithState checkpoints wrap the user state in a
    // single `groupState` struct (plus timeout bookkeeping); unwrap so
    // the decoder sees the state encoder's own fields
    val value =
      if (valueType.fieldNames.headOption.contains("groupState")) col("value.groupState")
      else col("value")
    raw.select(col("key"), value.as("value"))
      .map(r => decode(r.getStruct(0), r.getStruct(1)))
  }

  /** Decode an [[exportState]] parquet of a BUILT-IN tumbling-window
    * count+sum aggregation (`groupBy(window(ts, w), key).agg(count,
    * sum)`) into the ((key, window-start ms), (cnt, sum)) Dataset that
    * seeds [[tumblingAggTws]] — the windowed half of the savepoint
    * import, packaged so callers need not know the operator's state
    * layout (key = (window struct, key col) in groupBy order; value =
    * the (count, sum) aggregation buffer, stored keyless under state
    * format version 2). The W7d spec proves the full path: export a
    * built-in windowed agg mid-accumulation, seed the TWS twin, and
    * the continuation matches an uninterrupted run. */
  def importWindowedCountSum[K: Encoder](
      spark: org.apache.spark.sql.SparkSession, path: String)(
      implicit kw: Encoder[(K, Long)], st: Encoder[(Long, Double)],
      e: Encoder[((K, Long), (Long, Double))]): Dataset[((K, Long), (Long, Double))] =
    importState[(K, Long), (Long, Double)](spark, path) { (k, v) =>
      ((k.getAs[K](1), k.getStruct(0).getTimestamp(0).getTime),
       (v.getLong(0), v.getDouble(1)))
    }

  /** Decode an [[exportState]] parquet of a BUILT-IN session-window
    * count+sum aggregation (`groupBy(session_window(ts, gap), key)
    * .agg(count, sum)`) into the (key, open sessions) Dataset that
    * seeds [[sessionAggTws]] — the LAST savepoint-import residual
    * (SURVEY §7.4.5) closed. Layout (verified against the state
    * source): key = (key col, sessionStartTime); value =
    * (session_window struct(start, end), key col, count, sum), with
    * sessions already merged by the built-in operator. Each key's
    * entries group into the twin's per-key open-session list. The W7f
    * spec proves the full path: export a built-in session agg
    * mid-accumulation, seed the twin, and the continuation matches an
    * uninterrupted run. */
  def importSessionCountSum[K: Encoder](
      spark: org.apache.spark.sql.SparkSession, path: String)(
      implicit kv: Encoder[(K, (Long, Long, Long, Double))],
      e: Encoder[(K, List[(Long, Long, Long, Double)])]): Dataset[(K, List[(Long, Long, Long, Double)])] = {
    spark.read.parquet(path)
      .select(col("key"), col("value"))
      .map { r =>
        val k = r.getStruct(0).getAs[K](0)
        val v = r.getStruct(1)
        val w = v.getStruct(0)
        (k, (w.getTimestamp(0).getTime, w.getTimestamp(1).getTime,
          v.getLong(2), v.getDouble(3)))
      }
      .groupByKey(_._1)
      .mapGroups((k, it) => (k, it.map(_._2).toList.sortBy(_._1)))
  }

  /** W7: parquet sink with checkpoint — stop + restart with the same
    * checkpointLocation is the savepoint-restore equivalent. */
  def toParquetSink(df: DataFrame, path: String, checkpoint: String,
                    trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    df.writeStream.format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .outputMode(OutputMode.Append())
      .start()
}
