package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp
import graft.streaming.Streams

/** SURVEY §2.4 W1–W7 via MemoryStream (≙ S4 addSource) and temp dirs.
  * Parameterized over the state-store provider: the whole stateful
  * suite (windows, stream-stream joins, timers, rollingReduce,
  * near-dup candidate state, savepoint import, restarts) runs against
  * BOTH the default HDFS-backed (on-heap) provider and RocksDB — the
  * 100TB keyed-state backend must pass the same contract, not just a
  * smoke probe. Suites run sequentially in the forked test JVM, so the
  * session-wide provider toggle cannot cross-talk. */
abstract class StreamingSpecBase(rocksdb: Boolean) extends AnyFunSuite
    with org.scalatest.BeforeAndAfterAll {
  private lazy val spark = TestSession.spark

  // memory-sink names must differ between the two provider suites:
  // within one JVM a stopped query's table lingers in the catalog
  private def qn(name: String): String = if (rocksdb) name + "_rx" else name

  override protected def beforeAll(): Unit = {
    super.beforeAll()
    if (rocksdb) Engine.useRocksDBStateStore(spark)
  }
  override protected def afterAll(): Unit = {
    if (rocksdb) Engine.useDefaultStateStore(spark)
    super.afterAll()
  }

  private def ts(minute: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:$minute%02d:$sec%02d")

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("W2 keyed streaming aggregate (WordCount-on-stream, update mode)") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[String]
    val counts = in.toDS().flatMap(_.split(" ")).groupBy("value").count()
    val q = counts.writeStream.format("memory").queryName(qn("wc_stream"))
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData("a b a"); q.processAllAvailable()
      in.addData("b a");   q.processAllAvailable()
      val m = spark.table(qn("wc_stream")).groupBy("value").agg(max("count").as("c"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(m == Map("a" -> 3L, "b" -> 2L))
    } finally q.stop()
  }

  test("W2b keyword tagging applies unchanged to a stream (narrow op composability)") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    // the SAME batch operator — a broadcast automaton + typed
    // mapPartitions is stateless and narrow, so Structured Streaming
    // accepts it per microbatch with no extra code
    val tagged = graft.ops.KeywordTagger.tag(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text",
      Seq("spark", "table value"))
    val q = tagged.writeStream.format("memory").queryName(qn("kw_stream"))
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData((1L, "spark spark table value"))
      q.processAllAvailable()
      in.addData((2L, "no hits here"), (3L, "table value"))
      q.processAllAvailable()
      val rows = spark.table(qn("kw_stream")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(rows == Set((1L, "spark", 2L), (1L, "table value", 1L),
        (3L, "table value", 1L)), s"got $rows")
    } finally q.stop()
  }

  test("W3+W4 tumbling window with watermark drops late rows") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val agg = Streams.tumblingAgg(
      in.toDF().toDF("ts", "k"), "ts", "10 minutes", "10 minutes",
      Seq("k"), Seq(count(lit(1)).as("n")))
    val q = agg.writeStream.format("memory").queryName(qn("tumble"))
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData((ts(1), "x"), (ts(5), "x")); q.processAllAvailable()
      // advance watermark beyond window [0,10) end + 10min delay
      in.addData((ts(31), "x")); q.processAllAvailable()
      // late row for the already-closed [0,10) window -> dropped
      in.addData((ts(2), "x")); q.processAllAvailable()
      in.addData((ts(55), "x")); q.processAllAvailable()
      val rows = spark.table(qn("tumble"))
        .select(col("window.start").cast("string"), col("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows("2024-01-01 00:00:00") == 2L, s"late row not dropped: $rows")
    } finally q.stop()
  }

  test("E1-stream exact dedup within the watermark horizon (dedupStream)") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, String)]
    val dd = Streams.dedupStream(
      in.toDF().toDF("ts", "id", "v"), "ts", "10 minutes", Seq("id"))
    val q = dd.writeStream.format("memory").queryName(qn("dedup"))
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData((ts(1), 1L, "a"), (ts(2), 1L, "a-dup"), (ts(3), 2L, "b"))
      q.processAllAvailable()
      // same key in a later batch, still inside the horizon -> suppressed
      in.addData((ts(5), 1L, "a-again")); q.processAllAvailable()
      // advance the watermark far past id=1's state, then re-emit it:
      // state was evicted, so the key is accepted again (the horizon
      // contract — bounded state, not global dedup)
      in.addData((ts(120), 9L, "advance")); q.processAllAvailable()
      in.addData((ts(125), 1L, "a-new-epoch")); q.processAllAvailable()
      val vs = spark.table(qn("dedup")).select("v").collect().map(_.getString(0)).toSet
      assert(vs == Set("a", "b", "advance", "a-new-epoch"), s"got $vs")
    } finally q.stop()
  }

  test("W3 sliding window: each event lands in width/slide windows") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val agg = Streams.slidingAgg(
      in.toDF().toDF("ts", "k"), "ts", "10 minutes", "10 minutes", "5 minutes",
      Seq("k"), Seq(count(lit(1)).as("n")))
    val q = agg.writeStream.format("memory").queryName(qn("slide"))
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData((ts(7), "x")); q.processAllAvailable()
      in.addData((ts(59), "x")); q.processAllAvailable() // advance watermark
      val starts = spark.table(qn("slide")).filter(col("n") === 1)
        .select(col("window.start").cast("string")).collect().map(_.getString(0)).sorted.toSeq
      // event at 00:07 belongs to [00:00,00:10) and [00:05,00:15)
      assert(starts.contains("2024-01-01 00:00:00") && starts.contains("2024-01-01 00:05:00"),
        s"windows: $starts")
    } finally q.stop()
  }

  test("W3 session window (10-minute gap)") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val agg = Streams.sessionAgg(
      in.toDF().toDF("ts", "k"), "ts", "10 minutes", "10 minutes",
      Seq("k"), Seq(count(lit(1)).as("n")))
    val q = agg.writeStream.format("memory").queryName(qn("sessions"))
      .outputMode(OutputMode.Append()).start()
    try {
      // two bursts separated by > gap, then advance watermark to close them
      in.addData((ts(1), "u"), (ts(3), "u"), (ts(20), "u")); q.processAllAvailable()
      in.addData((ts(59), "flush")); q.processAllAvailable()
      val ns = spark.table(qn("sessions")).filter(col("k") === "u")
        .select("n").collect().map(_.getLong(0)).sorted.toSeq
      assert(ns == Seq(1L, 2L), s"sessions: $ns")
    } finally q.stop()
  }

  test("W5 stream-stream join with time-range condition") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, Long)]
    val buys = MemoryStream[(Timestamp, Long)]
    val joined = Streams.streamStreamJoin(
      clicks.toDF().toDF("click_ts", "click_user"),
      buys.toDF().toDF("buy_ts", "buy_user"),
      "click_ts", "buy_ts", "20 minutes", "20 minutes",
      col("click_user") === col("buy_user"), "15 minutes")
    val q = joined.writeStream.format("memory").queryName(qn("ssj"))
      .outputMode(OutputMode.Append()).start()
    try {
      clicks.addData((ts(1), 7L), (ts(1), 8L))
      buys.addData((ts(5), 7L))        // within 15min of click -> joins
      buys.addData((ts(40), 8L))       // 39min later -> outside range
      q.processAllAvailable()
      val out = spark.table(qn("ssj")).select("click_user").collect().map(_.getLong(0)).toSeq
      assert(out == Seq(7L), s"joined users: $out")
    } finally q.stop()
  }

  test("W5c stream-stream LEFT OUTER join null-extends unmatched rows after watermark") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, Long)]
    val buys = MemoryStream[(Timestamp, Long)]
    val joined = Streams.streamStreamJoinLeftOuter(
      clicks.toDF().toDF("click_ts", "click_user"),
      buys.toDF().toDF("buy_ts", "buy_user"),
      "click_ts", "buy_ts", "5 minutes", "5 minutes",
      col("click_user") === col("buy_user"), "10 minutes")
    val q = joined.writeStream.format("memory").queryName(qn("ssj_outer"))
      .outputMode(OutputMode.Append()).start()
    try {
      clicks.addData((ts(1), 7L), (ts(1), 9L))
      buys.addData((ts(5), 7L))       // matches user 7; user 9 unmatched
      q.processAllAvailable()
      // advance both watermarks far past click+maxDelay so the
      // unmatched left row can be finalized and emitted
      clicks.addData((ts(59), 1L))
      buys.addData((ts(59), 1L))
      q.processAllAvailable()
      val rows = spark.table(qn("ssj_outer"))
        .select("click_user", "buy_user").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
      assert(rows.contains((7L, Some(7L))), s"match lost: $rows")
      assert(rows.contains((9L, None)), s"unmatched row not null-extended: $rows")
    } finally q.stop()
  }

  test("W3+W5 session-window stream-stream join scopes pairs to gap sessions") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val l = MemoryStream[(Timestamp, Long, String)]
    val r = MemoryStream[(Timestamp, Long, String)]
    val joined = Streams.sessionWindowJoin(
      l.toDF().toDF("ts", "k", "v"), r.toDF().toDF("ts", "k", "v"),
      "k", "ts", "v", "10 minutes", gapMs = 10 * 60 * 1000)
    val q = joined.writeStream.format("memory").queryName(qn("sess_join"))
      .outputMode(OutputMode.Append()).start()
    try {
      // key 1, session A: l@1, l@3, r@5 chain within the 10-min gap
      l.addData((ts(1), 1L, "l1"), (ts(3), 1L, "l2"))
      r.addData((ts(5), 1L, "r1"))
      // key 2: left-only burst -> inner semantics, no output ever
      l.addData((ts(2), 2L, "lonely"))
      q.processAllAvailable()
      // key 1, session B: 25 min after A's end -> closes A in-batch
      l.addData((ts(30), 1L, "l3"))
      r.addData((ts(32), 1L, "r2"))
      q.processAllAvailable()
      // advance BOTH source watermarks past B's end + gap -> timer closes B
      l.addData((ts(59), 9L, "flush")); r.addData((ts(59), 9L, "flush"))
      q.processAllAvailable()
      val rows = spark.table(qn("sess_join")).collect().map(row =>
        (row.getLong(0), row.getString(4), row.getString(6),
         row.getLong(1), row.getLong(2))).toSet
      val a = (ts(1).getTime, ts(5).getTime)
      val b = (ts(30).getTime, ts(32).getTime)
      assert(rows == Set(
        (1L, "l1", "r1", a._1, a._2),
        (1L, "l2", "r1", a._1, a._2),
        (1L, "l3", "r2", b._1, b._2)),
        s"session-scoped pairs wrong: $rows")
      // cross-session pair (l1,r2) absent; key 2 emitted nothing
      assert(!rows.exists { case (_, lv, rv, _, _) => lv == "l1" && rv == "r2" })
      assert(!rows.exists(_._1 == 2L))
    } finally q.stop()
  }

  test("W3+W5 session join: cross-batch late event far before the open session stays separate") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val l = MemoryStream[(Timestamp, Long, String)]
    val r = MemoryStream[(Timestamp, Long, String)]
    // 30-min watermark ADMITS the late event; the 10-min gap must
    // still keep it out of the much-later open session (it arrives
    // with ms < session start - gap, where only the e0-side check
    // would wrongly glue it in because ms - e0 is negative)
    val joined = Streams.sessionWindowJoin(
      l.toDF().toDF("ts", "k", "v"), r.toDF().toDF("ts", "k", "v"),
      "k", "ts", "v", "30 minutes", gapMs = 10 * 60 * 1000)
    val q = joined.writeStream.format("memory").queryName(qn("sess_join_late"))
      .outputMode(OutputMode.Append()).start()
    try {
      l.addData((ts(40), 1L, "l_open"))
      r.addData((ts(42), 1L, "r_open"))
      q.processAllAvailable()
      // late-but-admitted: 00:15 is 25 min before the open [40,42]
      l.addData((ts(15), 1L, "l_late"))
      q.processAllAvailable()
      // watermark delay is 30 min, so closing [40,42]+gap needs events
      // past 01:22 — push both sources to 01:30
      val flush = Timestamp.valueOf("2024-01-01 01:30:00")
      l.addData((flush, 9L, "flush")); r.addData((flush, 9L, "flush"))
      q.processAllAvailable()
      val rows = spark.table(qn("sess_join_late")).collect().map(row =>
        (row.getString(4), row.getString(6), row.getLong(1))).toSet
      assert(rows == Set(("l_open", "r_open", ts(40).getTime)),
        s"late event leaked into the open session: $rows")
    } finally q.stop()
  }

  test("W6 sessionizeWithTimeout closes sessions via event-time timers") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val sessions = Streams.sessionizeWithTimeout(
      in.toDF().toDF("ts", "user_id"), "ts", "0 seconds", "user_id",
      gapMs = 10 * 60 * 1000)
    val q = sessions.writeStream.format("memory").queryName(qn("sess_timer"))
      .outputMode(OutputMode.Append()).start()
    try {
      // user 1: two sessions in ONE batch (00:01-00:05, then 00:30 —
      // gap 25min > 10min) — the first must close at the gap split,
      // without waiting for a timer
      in.addData((ts(1), 1L), (ts(5), 1L), (ts(30), 1L), (ts(2), 2L))
      q.processAllAvailable()
      val base = ts(0).getTime
      val early = spark.table(qn("sess_timer"))
        .select("user_id", "n_events", "session_start_ms", "session_end_ms")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      // user 1's first session closes at the gap split; user 2's closes
      // via timer (the 00:30 event pushed the watermark past 00:02+gap)
      assert(early == Set(
        (1L, 2L, base + 60000L, base + 300000L),
        (2L, 1L, base + 120000L, base + 120000L)), s"after batch 1: $early")
      in.addData((ts(59), 3L)) // watermark jumps past open ends + gap
      q.processAllAvailable()
      val out = spark.table(qn("sess_timer"))
        .select("user_id", "n_events", "session_start_ms", "session_end_ms")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(out == Set(
        (1L, 2L, base + 60000L, base + 300000L),
        (1L, 1L, base + 1800000L, base + 1800000L),
        (2L, 1L, base + 120000L, base + 120000L)), s"got $out")
    } finally q.stop()
  }

  test("W6/T5 rollingReduce emits per-record running values") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(String, Int)]
    val rolled = Streams.rollingReduce[String, (String, Int)](
      in.toDS(), _._1, (a, b) => (a._1, a._2 + b._2))
    val q = rolled.toDF("k", "v").writeStream.format("memory").queryName(qn("rolling"))
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(("k", 1)); q.processAllAvailable()
      in.addData(("k", 2)); q.processAllAvailable()
      in.addData(("k", 4)); q.processAllAvailable()
      val vals = spark.table(qn("rolling")).select("v").collect()
        .map(_.getStruct(0).getInt(1)).sorted.toSeq
      assert(vals == Seq(1, 3, 7), s"running values: $vals") // every record emitted
    } finally q.stop()
  }

  test("W7c savepoint import: exported state seeds a fresh query identically to an uninterrupted run") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val reduce: ((String, Int), (String, Int)) => (String, Int) =
      (a, b) => (a._1, a._2 + b._2)
    val b1 = Seq(("x", 1), ("y", 10))
    val b2 = Seq(("x", 2), ("y", 20), ("z", 100))
    val b3 = Seq(("x", 4), ("y", 40), ("z", 200), ("w", 7))

    // uninterrupted reference run: b1, b2, b3 through one query
    def runQuery(name: String, batches: Seq[Seq[(String, Int)]], ckpt: String,
                 build: org.apache.spark.sql.Dataset[(String, Int)] => org.apache.spark.sql.Dataset[(String, (String, Int))]): Unit = {
      val in = MemoryStream[(String, Int)]
      val q = build(in.toDS()).toDF("k", "v").writeStream.format("memory")
        .queryName(name).option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append()).start()
      try batches.foreach { b => in.addData(b); q.processAllAvailable() }
      finally q.stop()
    }
    def rows(name: String) = spark.table(name).select("k", "v")
      .collect().map(r => (r.getString(0), (r.getStruct(1).getString(0), r.getStruct(1).getInt(1))))

    runQuery(qn("sp_full"), Seq(b1, b2, b3), tmp("sp-full-ckpt"),
      ds => Streams.rollingReduce[String, (String, Int)](ds, _._1, reduce))
    val fullB3 = rows(qn("sp_full")).toSet -- {
      // subtract the b1+b2 prefix: re-run just the prefix to identify it
      runQuery(qn("sp_prefix"), Seq(b1, b2), tmp("sp-prefix-ckpt"),
        ds => Streams.rollingReduce[String, (String, Int)](ds, _._1, reduce))
      rows(qn("sp_prefix")).toSet
    }

    // interrupted run: b1+b2, stop, export state, import into a FRESH
    // query (new checkpoint), then b3
    val ckptA = tmp("sp-a-ckpt")
    runQuery(qn("sp_a"), Seq(b1, b2), ckptA,
      ds => Streams.rollingReduce[String, (String, Int)](ds, _._1, reduce))
    val exported = tmp("sp-export")
    Streams.exportState(spark, ckptA, exported)
    val initial = Streams.importState[String, (String, Int)](spark, exported) {
      (k, v) => (k.getString(0), (v.getString(0), v.getInt(1)))
    }
    runQuery(qn("sp_b"), Seq(b3), tmp("sp-b-ckpt"),
      ds => Streams.rollingReduceWithInitial[String, (String, Int)](ds, _._1, reduce, initial))
    val resumedB3 = rows(qn("sp_b")).toSet

    assert(resumedB3 == fullB3,
      s"resumed continuation diverged:\n got $resumedB3\n want $fullB3")
    // and the continuation really carried state (x resumed from 3, not 0)
    assert(resumedB3.contains(("x", ("x", 7))), s"x did not resume mid-reduction: $resumedB3")
  }

  test("W6c rollingReduce on transformWithState: per-record contract + cross-API state import") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // transformWithState requires RocksDB regardless of which suite runs this
    val saved = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    Engine.useRocksDBStateStore(spark)
    try {
      val reduce: ((String, Int), (String, Int)) => (String, Int) =
        (a, b) => (a._1, a._2 + b._2)
      // per-record running values, same contract as flatMapGroupsWithState
      val in = MemoryStream[(String, Int)]
      val rolled = Streams.rollingReduceTws[String, (String, Int)](
        in.toDS(), _._1, reduce)
      val q = rolled.toDF("k", "v").writeStream.format("memory").queryName(qn("tws_roll"))
        .option("checkpointLocation", tmp("tws-roll-ckpt"))
        .outputMode(OutputMode.Append()).start()
      try {
        in.addData(("k", 1)); q.processAllAvailable()
        in.addData(("k", 2), ("k", 4)); q.processAllAvailable()
        val vals = spark.table(qn("tws_roll")).select("v").collect()
          .map(_.getStruct(0).getInt(1)).sorted.toSeq
        assert(vals == Seq(1, 3, 7), s"running values: $vals")
      } finally q.stop()

      // savepoint portability ACROSS APIs: state exported from the
      // flatMapGroupsWithState implementation seeds the
      // transformWithState one
      val ckptA = tmp("tws-seed-src-ckpt")
      val inA = MemoryStream[(String, Int)]
      val qA = Streams.rollingReduce[String, (String, Int)](inA.toDS(), _._1, reduce)
        .toDF("k", "v").writeStream.format("memory").queryName(qn("tws_seed_src"))
        .option("checkpointLocation", ckptA)
        .outputMode(OutputMode.Append()).start()
      try { inA.addData(("x", 5), ("y", 11)); qA.processAllAvailable() } finally qA.stop()
      val exported = tmp("tws-seed-export")
      Streams.exportState(spark, ckptA, exported)
      val initial = Streams.importState[String, (String, Int)](spark, exported) {
        (k, v) => (k.getString(0), (v.getString(0), v.getInt(1)))
      }
      val inB = MemoryStream[(String, Int)]
      val qB = Streams.rollingReduceTws[String, (String, Int)](
        inB.toDS(), _._1, reduce, initial = Some(initial))
        .toDF("k", "v").writeStream.format("memory").queryName(qn("tws_seeded"))
        .option("checkpointLocation", tmp("tws-seed-ckpt"))
        .outputMode(OutputMode.Append()).start()
      try {
        inB.addData(("x", 1)); qB.processAllAvailable()
        val got = spark.table(qn("tws_seeded")).select("k", "v").collect()
          .map(r => r.getString(0) -> r.getStruct(1).getInt(1)).toMap
        assert(got == Map("x" -> 6), s"seeded continuation: $got") // 5 (imported) + 1
      } finally qB.stop()
    } finally saved.foreach(spark.conf.set("spark.sql.streaming.stateStore.providerClass", _))
  }

  test("W7d windowed-agg savepoint import: built-in window state seeds the TWS twin") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // transformWithState requires RocksDB regardless of which suite runs this
    val saved = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    Engine.useRocksDBStateStore(spark)
    try {
      val widthMs = 10L * 60 * 1000 // 10-minute tumbling windows
      // b1 fills window [00,10); b2 fills [10,20) and opens [20,30);
      // its max ts (25) pushes the watermark to 15, so [00,10) is
      // finalized+evicted before the stop — the export carries ONLY the
      // open windows [10,20) and [20,30) mid-accumulation.
      val b1 = Seq((ts(1), "x", 1.0), (ts(5), "x", 2.0), (ts(3), "y", 10.0))
      val b2 = Seq((ts(12), "x", 4.0), (ts(14), "y", 20.0), (ts(25), "x", 8.0))
      // b3 adds to the open [20,30) window; the ts(45) pusher drives the
      // watermark past 30 so every data window finalizes (the pusher's
      // own [40,50) window stays open in BOTH runs, symmetrically).
      val b3 = Seq((ts(22), "x", 16.0), (ts(27), "y", 40.0), (ts(45), "z", 0.0))

      def runBuiltin(name: String, ckpt: String, batches: Seq[Seq[(Timestamp, String, Double)]]): Unit = {
        val in = MemoryStream[(Timestamp, String, Double)]
        val agg = Streams.tumblingAgg(in.toDF().toDF("ts", "k", "v"),
          "ts", "10 minutes", "10 minutes", Seq("k"),
          Seq(count(lit(1)).as("cnt"), sum(col("v")).as("sum_v")))
        val q = agg.writeStream.format("memory").queryName(name)
          .option("checkpointLocation", ckpt)
          .outputMode(OutputMode.Append()).start()
        try batches.foreach { b => in.addData(b); q.processAllAvailable() }
        finally q.stop()
      }
      def builtinRows(name: String): Set[(String, Long, Long, Double)] =
        spark.table(name).collect().map { r =>
          val w = r.getStruct(0)
          (r.getString(1), w.getTimestamp(0).getTime, r.getLong(2), r.getDouble(3))
        }.toSet

      // uninterrupted reference: every finalized window over b1..b3
      runBuiltin(qn("wtws_full"), tmp("wtws-full-ckpt"), Seq(b1, b2, b3))
      val full = builtinRows(qn("wtws_full"))
      // interrupted: b1+b2, stop, export the open-window state
      val ckptA = tmp("wtws-a-ckpt")
      runBuiltin(qn("wtws_prefix"), ckptA, Seq(b1, b2))
      val prefixEmitted = builtinRows(qn("wtws_prefix"))
      val exported = tmp("wtws-export")
      Streams.exportState(spark, ckptA, exported)
      // the library helper owns the built-in aggregate's state layout
      val initial = Streams.importWindowedCountSum[String](spark, exported)
      // the export holds only the OPEN windows ([10,20) and [20,30));
      // the finalized-and-evicted [00,10) window must not leak in
      val seeded = initial.collect().toMap
      assert(seeded.keySet.map(_._2) == Set(ts(10).getTime, ts(20).getTime),
        s"export does not hold exactly the open windows: $seeded")

      // continuation: the TWS twin seeded with the imported state, fed b3
      val inB = MemoryStream[(String, Timestamp, Double)]
      val cont = Streams.tumblingAggTws[String](
        inB.toDS(), "10 minutes", widthMs, initial = Some(initial))
      val qB = cont.toDF("k", "window_start", "cnt", "sum_v")
        .writeStream.format("memory").queryName(qn("wtws_cont"))
        .option("checkpointLocation", tmp("wtws-b-ckpt"))
        .outputMode(OutputMode.Append()).start()
      try {
        inB.addData(b3.map { case (t, k, v) => (k, t, v) })
        qB.processAllAvailable()
      } finally qB.stop()
      val contRows = spark.table(qn("wtws_cont")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet

      // continuation-identical: prefix-emitted ∪ continuation == uninterrupted
      assert(prefixEmitted ++ contRows == full,
        s"windowed continuation diverged:\n prefix $prefixEmitted\n cont $contRows\n full $full")
      // and the carry is real: [20,30)'s x window combines the imported
      // partial (ts 25 from b2) with b3's ts-22 row — cnt 2, not 1
      assert(contRows.contains(("x", ts(20).getTime, 2L, 24.0)),
        s"mid-window state did not carry across the import: $contRows")
    } finally {
      saved match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => Engine.useDefaultStateStore(spark)
      }
    }
  }

  test("W7e sliding-window savepoint import: built-in sliding state seeds the TWS twin") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val saved = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    Engine.useRocksDBStateStore(spark)
    try {
      val widthMs = 10L * 60 * 1000
      val slideMs = 5L * 60 * 1000 // each event covers 2 windows
      val b1 = Seq((ts(1), "x", 1.0), (ts(5), "x", 2.0), (ts(3), "y", 10.0))
      val b2 = Seq((ts(12), "x", 4.0), (ts(14), "y", 20.0), (ts(25), "x", 8.0))
      val b3 = Seq((ts(22), "x", 16.0), (ts(27), "y", 40.0), (ts(45), "z", 0.0))

      def runBuiltin(name: String, ckpt: String, batches: Seq[Seq[(Timestamp, String, Double)]]): Unit = {
        val in = MemoryStream[(Timestamp, String, Double)]
        val agg = Streams.slidingAgg(in.toDF().toDF("ts", "k", "v"),
          "ts", "10 minutes", "10 minutes", "5 minutes", Seq("k"),
          Seq(count(lit(1)).as("cnt"), sum(col("v")).as("sum_v")))
        val q = agg.writeStream.format("memory").queryName(name)
          .option("checkpointLocation", ckpt)
          .outputMode(OutputMode.Append()).start()
        try batches.foreach { b => in.addData(b); q.processAllAvailable() }
        finally q.stop()
      }
      def builtinRows(name: String): Set[(String, Long, Long, Double)] =
        spark.table(name).collect().map { r =>
          val w = r.getStruct(0)
          (r.getString(1), w.getTimestamp(0).getTime, r.getLong(2), r.getDouble(3))
        }.toSet

      runBuiltin(qn("wtwe_full"), tmp("wtwe-full-ckpt"), Seq(b1, b2, b3))
      val full = builtinRows(qn("wtwe_full"))
      val ckptA = tmp("wtwe-a-ckpt")
      runBuiltin(qn("wtwe_prefix"), ckptA, Seq(b1, b2))
      val prefixEmitted = builtinRows(qn("wtwe_prefix"))
      val exported = tmp("wtwe-export")
      Streams.exportState(spark, ckptA, exported)
      // the sliding agg's state layout is identical to the tumbling
      // one's — the SAME import helper decodes it
      val initial = Streams.importWindowedCountSum[String](spark, exported)

      val inB = MemoryStream[(String, Timestamp, Double)]
      val cont = Streams.slidingAggTws[String](
        inB.toDS(), "10 minutes", widthMs, slideMs, initial = Some(initial))
      val qB = cont.toDF("k", "window_start", "cnt", "sum_v")
        .writeStream.format("memory").queryName(qn("wtwe_cont"))
        .option("checkpointLocation", tmp("wtwe-b-ckpt"))
        .outputMode(OutputMode.Append()).start()
      try {
        inB.addData(b3.map { case (t, k, v) => (k, t, v) })
        qB.processAllAvailable()
      } finally qB.stop()
      val contRows = spark.table(qn("wtwe_cont")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet

      assert(prefixEmitted ++ contRows == full,
        s"sliding continuation diverged:\n prefix $prefixEmitted\n cont $contRows\n full $full")
      // carry is real: [20,30) x combines the imported ts-25 partial
      // (b2) with b3's ts-22 row (cnt 2, not 1), and [25,35) x is
      // finalized from the PURELY imported partial (no b3 rows) —
      // both only possible if the import seeded state
      assert(contRows.contains(("x", ts(20).getTime, 2L, 24.0)) &&
             contRows.contains(("x", ts(25).getTime, 1L, 8.0)),
        s"mid-window state did not carry across the sliding import: $contRows")
    } finally {
      saved match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => Engine.useDefaultStateStore(spark)
      }
    }
  }

  test("W7f session-window savepoint import: built-in session state seeds the TWS twin") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // the last savepoint-import residual: round 4 closed tumbling +
    // sliding; session windows were documented checkpoint-restart-only
    // on the ASSUMPTION their merging state was provider-internal. The
    // state source disproves that (key = (k, sessionStartTime), value =
    // (session struct, k, cnt, sum), sessions pre-merged), so the same
    // export -> decode -> seed-the-TWS-twin path applies.
    val saved = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    Engine.useRocksDBStateStore(spark)
    try {
      // gap 2 minutes, watermark 1 minute
      val b1 = Seq((ts(0), "x", 1.0), (ts(1), "x", 2.0), (ts(0, 30), "y", 10.0))
      // b2's max ts (12m) pushes the watermark to 11m, so b1's sessions
      // (x [0,3m), y [0:30,2:30)) finalize+evict before the stop — the
      // export carries ONLY the open sessions of b2
      val b2 = Seq((ts(10), "x", 4.0), (ts(10, 30), "y", 20.0), (ts(12), "z", 8.0))
      // b3: x@11m merges INTO the imported open x session [10,12m) ->
      // [10,13m); the ts(40) pusher drives the watermark to 39m
      val b3 = Seq((ts(11), "x", 16.0), (ts(20), "y", 40.0), (ts(40), "w", 0.0))
      // b4 pins the LATE-FILTER boundary after the import (wm = 39m):
      // x@38:30 is behind the watermark but its candidate session ends
      // at 40:30 > wm — the built-in KEEPS it (session-end filter,
      // tools.SessionLateProbe) and the twin must too; y@36:30's whole
      // session closed at 38:30 <= wm — both must DROP it. ts(50)
      // closes everything (its own [50,52m) stays open symmetrically).
      val b4 = Seq((ts(38, 30), "x", 5.0), (ts(36, 30), "y", 99.0), (ts(50), "u", 0.0))

      def runBuiltin(name: String, ckpt: String,
                     batches: Seq[Seq[(Timestamp, String, Double)]]): Unit = {
        val in = MemoryStream[(Timestamp, String, Double)]
        val agg = Streams.sessionAgg(in.toDF().toDF("ts", "k", "v"),
          "ts", "1 minute", "2 minutes", Seq("k"),
          Seq(count(lit(1)).as("cnt"), sum(col("v")).as("sum_v")))
        val q = agg.writeStream.format("memory").queryName(name)
          .option("checkpointLocation", ckpt)
          .outputMode(OutputMode.Append()).start()
        try batches.foreach { b => in.addData(b); q.processAllAvailable() }
        finally q.stop()
      }
      def builtinRows(name: String): Set[(String, Long, Long, Long, Double)] =
        spark.table(name).collect().map { r =>
          val w = r.getStruct(0)
          (r.getString(1), w.getTimestamp(0).getTime, w.getTimestamp(1).getTime,
            r.getLong(2), r.getDouble(3))
        }.toSet

      // uninterrupted reference over b1..b4
      runBuiltin(qn("stws_full"), tmp("stws-full-ckpt"), Seq(b1, b2, b3, b4))
      val full = builtinRows(qn("stws_full"))
      // the boundary row made it into the reference output...
      assert(full.contains(("x", ts(38, 30).getTime, ts(40, 30).getTime, 1L, 5.0)),
        s"built-in dropped the boundary row — probe assumption broken: $full")
      // ...and the fully-closed late row did not
      assert(!full.exists(r => r._1 == "y" && r._5 == 99.0),
        s"built-in kept a fully-closed late row: $full")
      // interrupted: b1+b2, stop, export the open-session state
      val ckptA = tmp("stws-a-ckpt")
      runBuiltin(qn("stws_prefix"), ckptA, Seq(b1, b2))
      val prefixEmitted = builtinRows(qn("stws_prefix"))
      val exported = tmp("stws-export")
      Streams.exportState(spark, ckptA, exported)
      val initial = Streams.importSessionCountSum[String](spark, exported)
      // exactly the three open sessions, already merged, nothing evicted
      val seeded = initial.collect().toMap
      assert(seeded == Map(
        "x" -> List((ts(10).getTime, ts(12).getTime, 1L, 4.0)),
        "y" -> List((ts(10, 30).getTime, ts(12, 30).getTime, 1L, 20.0)),
        "z" -> List((ts(12).getTime, ts(14).getTime, 1L, 8.0))),
        s"export does not hold exactly the open sessions: $seeded")

      // continuation: the session TWS twin seeded with the import, fed b3
      val inB = MemoryStream[(String, Timestamp, Double)]
      val cont = Streams.sessionAggTws[String](
        inB.toDS(), "1 minute", 2L * 60 * 1000, initial = Some(initial))
      val qB = cont.toDF("k", "start", "end", "cnt", "sum_v")
        .writeStream.format("memory").queryName(qn("stws_cont"))
        .option("checkpointLocation", tmp("stws-b-ckpt"))
        .outputMode(OutputMode.Append()).start()
      try {
        inB.addData(b3.map { case (t, k, v) => (k, t, v) })
        qB.processAllAvailable()
        inB.addData(b4.map { case (t, k, v) => (k, t, v) })
        qB.processAllAvailable()
      } finally qB.stop()
      val contRows = spark.table(qn("stws_cont")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4))).toSet

      assert(prefixEmitted ++ contRows == full,
        s"session continuation diverged:\n prefix $prefixEmitted\n cont $contRows\n full $full")
      // the carry is real AND the merge crossed the import boundary:
      // b3's x@11m extended the imported [10m,12m) session to [10m,13m)
      // with the imported partial folded in — cnt 2, sum 20
      assert(contRows.contains(("x", ts(10).getTime, ts(13).getTime, 2L, 20.0)),
        s"imported open session did not merge with the continuation: $contRows")
    } finally {
      saved match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("W3+E6 windowed deterministic distinct-count: kmv_distinct per window on a stream") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // the KMV aggregate is a TypedImperativeAggregate, so it composes
    // with built-in windowed streaming aggregation like any builtin:
    // per-(window, key) sketch state lives in the state store and the
    // estimate is EXACT below k — deterministic distinct-users-per-
    // window on a stream, the dashboard query approx_count_distinct
    // usually serves, minus the randomized estimator
    val in = MemoryStream[(Timestamp, String, String)] // ts, key, user
    val agg = in.toDF().toDF("ts", "k", "u")
      .withWatermark("ts", "1 minute")
      .groupBy(window(col("ts"), "10 minutes"), col("k"))
      .agg(expr("kmv_distinct(u)").as("d"))
    val q = agg.writeStream.format("memory").queryName(qn("wkmv"))
      .option("checkpointLocation", tmp("wkmv-ck"))
      .outputMode(OutputMode.Append()).start()
    try {
      // window [00,10): x sees users a,b,a (2 distinct) across batches
      in.addData((ts(1), "x", "a"), (ts(2), "x", "b"), (ts(3), "y", "a"))
      q.processAllAvailable()
      in.addData((ts(4), "x", "a"), (ts(12), "x", "c"))
      q.processAllAvailable()
      // push the watermark past both windows
      in.addData((ts(30), "z", "zz")); q.processAllAvailable()
      val rows = spark.table(qn("wkmv")).collect().map { r =>
        (r.getStruct(0).getTimestamp(0).getTime, r.getString(1), r.getLong(2))
      }.toSet
      assert(rows == Set(
        (ts(0).getTime, "x", 2L), (ts(0).getTime, "y", 1L),
        (ts(10).getTime, "x", 1L)),
        s"windowed streaming kmv diverged: $rows")
    } finally q.stop()
  }

  test("W5b stream-static join enriches the stream against a batch dim") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val in = MemoryStream[(Timestamp, Long)]
    val joined = in.toDF().toDF("ts", "user_id").join(broadcast(dim), Seq("user_id"), "left")
    val q = joined.writeStream.format("memory").queryName(qn("ss_join"))
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData((ts(1), 1L), (ts(2), 3L)); q.processAllAvailable()
      val rows = spark.table(qn("ss_join")).select("user_id", "tier").collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(rows == Map(1L -> Some("gold"), 3L -> None))
    } finally q.stop()
  }

  test("E1-stream nearDupCandidates pairs near-dups across microbatches") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog and runs far away into the hills tonight"
    val in = MemoryStream[(Long, String)]
    val cands = Streams.nearDupCandidates(in.toDF().toDF("doc_id", "text"), "doc_id", "text")
    val q = cands.writeStream.format("memory").queryName(qn("neardup_stream"))
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData((1L, base), (10L, "completely unrelated words about catalyst optimizer internals and shuffles"))
      q.processAllAvailable()
      in.addData((2L, base + " again")) // near-dup of doc 1, later batch
      q.processAllAvailable()
      val pairs = spark.table(qn("neardup_stream")).distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.contains((1L, 2L)), s"cross-batch near-dup missed: $pairs")
      assert(!pairs.exists(p => p._1 == 10L || p._2 == 10L),
        s"unrelated doc paired: $pairs")
    } finally q.stop()
  }

  test("E1-stream bucket state expires via event-time TTL (cold buckets evicted)") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog and runs far away into the hills tonight"
    val in = MemoryStream[(Timestamp, Long, String)]
    val cands = Streams.nearDupCandidates(
      in.toDF().toDF("ts", "doc_id", "text"), "doc_id", "text",
      tsCol = Some("ts"), watermark = "1 minute", bucketTtlMs = 120000L) // 2-min TTL
    val q = cands.writeStream.format("memory").queryName(qn("neardup_ttl"))
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData((ts(1), 1L, base)); q.processAllAvailable()
      val stateAfterWarm = q.lastProgress.stateOperators(0).numRowsTotal
      assert(stateAfterWarm > 0, "no bucket state created")
      // jump event time far past ts(1) + TTL + watermark: timers fire
      in.addData((ts(50), 10L, "completely unrelated words about catalyst optimizer internals and shuffles"))
      q.processAllAvailable()
      // one more batch so timed-out state removal lands in a progress report
      in.addData((ts(52), 11L, "other unrelated prose about parquet row groups and encodings today"))
      q.processAllAvailable()
      val stateAfterTtl = q.lastProgress.stateOperators(0).numRowsTotal
      assert(stateAfterTtl < stateAfterWarm + 128, // doc1's 64 buckets must be gone
        s"cold buckets not evicted: warm=$stateAfterWarm now=$stateAfterTtl")
      // doc 2 is a near-dup of doc 1 but arrives after doc 1's buckets
      // expired: no cross-pair may surface (history really was dropped)
      in.addData((ts(53), 2L, base + " again")); q.processAllAvailable()
      val pairs = spark.table(qn("neardup_ttl")).distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(!pairs.contains((1L, 2L)), s"expired history still paired: $pairs")
    } finally q.stop()
  }

  test("W4b late-data accounting: drop counter + capture channel (side-output equivalent)") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val agg = Streams.tumblingAgg(
      in.toDF().toDF("ts", "k"), "ts", "10 minutes", "10 minutes",
      Seq("k"), Seq(count(lit(1)).as("n")))
    val q = agg.writeStream.format("memory").queryName(qn("late_acct"))
      .outputMode(OutputMode.Append()).start()
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val cap = Streams.captureLateRows(
      in.toDF().toDF("ts", "k"), "ts", delayMs = 600000L, checkpoint = tmp("late-cap")) {
      late => late.collect().foreach(r => captured.add(r.getTimestamp(0).getTime))
    }
    try {
      in.addData((ts(1), "x"), (ts(5), "x"))
      q.processAllAvailable(); cap.processAllAvailable()
      in.addData((ts(31), "x")) // watermark -> 00:21
      q.processAllAvailable(); cap.processAllAvailable()
      in.addData((ts(2), "x"), (ts(32), "x")) // ts(2) < 00:21: dropped + captured
      q.processAllAvailable(); cap.processAllAvailable()
      assert(Streams.lateRowsDropped(q) == 1L,
        s"drop counter: ${Streams.lateRowsDropped(q)}")
      assert(captured.size == 1 && captured.peek() == ts(2).getTime,
        s"capture channel got: ${captured.toArray.toSeq}")
    } finally { q.stop(); cap.stop() }
  }

  test("W4d lateRowsDropped counts late (window, key) groups, not late events") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val agg = Streams.tumblingAgg(
      in.toDF().toDF("ts", "k"), "ts", "10 minutes", "10 minutes",
      Seq("k"), Seq(count(lit(1)).as("n")))
    val q = agg.writeStream.format("memory").queryName(qn("late_groups"))
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData((ts(1), "x")); q.processAllAvailable()
      in.addData((ts(31), "x")); q.processAllAvailable() // watermark -> 00:21
      // two late events of one key in one closed window, one batch
      in.addData((ts(2), "x"), (ts(3), "x"), (ts(32), "x"))
      q.processAllAvailable()
      assert(Streams.lateRowsDropped(q) == 1L,
        s"drop counter: ${Streams.lateRowsDropped(q)}")
    } finally q.stop()
  }

  test("W4c captureLateRows recovers its watermark across restart (no re-classification)") {
    val srcDir = tmp("late-src")
    val ckpt = tmp("late-restart-ckpt")
    var n = 0
    def write(rows: Seq[Timestamp]): Unit = {
      n += 1
      val content = rows.map(t => s"""{"ms":${t.getTime}}""").mkString("\n")
      java.nio.file.Files.write(
        new java.io.File(srcDir, s"f$n.json").toPath, content.getBytes("UTF-8"))
    }
    val schema = new org.apache.spark.sql.types.StructType().add("ms", "long")
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    def capture() = Streams.captureLateRows(
      spark.readStream.schema(schema).json(srcDir)
        .select(timestamp_millis(col("ms")).as("ts")),
      "ts", delayMs = 600000L, ckpt) { late =>
      late.collect().foreach(r => captured.add(r.getTimestamp(0).getTime))
    }
    write(Seq(ts(1), ts(5)))
    val c1 = capture()
    try {
      c1.processAllAvailable()
      write(Seq(ts(31))) // advances the persisted watermark to 00:21
      c1.processAllAvailable()
    } finally c1.stop()
    assert(captured.isEmpty, s"premature capture: ${captured.toArray.toSeq}")
    // restart from the same checkpoint: ts(2) predates the recovered
    // 00:21 watermark and must be captured — a -infinity reset (the old
    // driver-side var) would classify it on-time
    write(Seq(ts(2), ts(32)))
    val c2 = capture()
    try c2.processAllAvailable() finally c2.stop()
    assert(captured.toArray.toSeq == Seq(ts(2).getTime),
      s"capture after restart: ${captured.toArray.toSeq}")
  }

  test("W2b keyed streaming aggregate under the RocksDB state store provider") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    Engine.useRocksDBStateStore(spark)
    try {
      val in = MemoryStream[(Long, Double)]
      val agg = in.toDF().toDF("user_id", "value")
        .groupBy("user_id").agg(sum("value").as("total"))
      val q = agg.writeStream.format("memory").queryName(qn("rocksdb_agg"))
        .outputMode(OutputMode.Update()).start()
      try {
        in.addData((1L, 1.0), (2L, 2.0)); q.processAllAvailable()
        in.addData((1L, 3.0));            q.processAllAvailable()
        val m = spark.table(qn("rocksdb_agg")).groupBy("user_id").agg(max("total").as("t"))
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        assert(m == Map(1L -> 4.0, 2L -> 2.0), s"got $m")
        val provider = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
        assert(provider.contains("RocksDB"))
      } finally q.stop()
    } finally Engine.useDefaultStateStore(spark)
  }

  test("W7b state export: checkpointed keyed state reads back as plain columns") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Long, Double)]
    val ckpt = tmp("state-export-ckpt")
    val agg = in.toDF().toDF("user_id", "value")
      .groupBy("user_id").agg(sum("value").as("total"))
    val q = agg.writeStream.format("memory").queryName(qn("state_export_agg"))
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData((1L, 1.5), (2L, 2.0)); q.processAllAvailable()
      in.addData((1L, 3.5));            q.processAllAvailable()
    } finally q.stop()
    // read the aggregation operator's state straight from the checkpoint
    val state = Streams.readState(spark, ckpt)
    val keyed = state.select(col("key.user_id"), col("value.sum"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(keyed == Map(1L -> 5.0, 2L -> 2.0), s"state read: $keyed")
    // and the parquet export round-trips
    val out = tmp("state-export-out")
    Streams.exportState(spark, ckpt, out)
    val exported = spark.read.parquet(out).select(col("key.user_id"), col("value.sum"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(exported == keyed)
  }

  test("W6b timer-based sessionization under the RocksDB state store") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    Engine.useRocksDBStateStore(spark)
    try {
      val in = MemoryStream[(Timestamp, Long)]
      val sessions = Streams.sessionizeWithTimeout(
        in.toDF().toDF("ts", "user_id"), "ts", "0 seconds", "user_id",
        gapMs = 10 * 60 * 1000)
      val q = sessions.writeStream.format("memory").queryName(qn("sess_rocks"))
        .outputMode(OutputMode.Append()).start()
      try {
        in.addData((ts(1), 1L), (ts(5), 1L)); q.processAllAvailable()
        in.addData((ts(40), 1L)); q.processAllAvailable() // gap closes session 1
        in.addData((ts(59), 2L)); q.processAllAvailable() // advances watermark
        val rows = spark.table(qn("sess_rocks")).filter(col("user_id") === 1L)
          .select("n_events").collect().map(_.getLong(0)).sorted.toSeq
        assert(rows.contains(2L), s"first session (2 events) not closed: $rows")
      } finally q.stop()
    } finally Engine.useDefaultStateStore(spark)
  }

  test("W1b AvailableNow trigger drains the backlog then stops (backfill mode)") {
    import org.apache.spark.sql.streaming.Trigger
    val srcDir = tmp("graft-avnow")
    val events = graft.sources.Tables(spark, TestSession.sf0001).events
      .select("event_id", "user_id", "event_type", "value")
    events.limit(300).write.mode("overwrite").parquet(s"$srcDir/a")
    events.limit(500).write.mode("overwrite").parquet(s"$srcDir/b")
    val stream = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$srcDir/*")
    val q = stream.groupBy("event_type").count()
      .writeStream.format("memory").queryName(qn("avnow"))
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete())
      .trigger(Trigger.AvailableNow())
      .start()
    try {
      assert(q.awaitTermination(60000), "AvailableNow query did not self-terminate")
      val total = spark.table(qn("avnow")).agg(sum("count")).collect().head.getLong(0)
      assert(total == 800, s"drained rows: $total")
    } finally q.stop()
  }

  test("S6 foreachBatch sink sees every batch with its id") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[Int]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val q = Streams.toForeachBatchSink(in.toDF(), tmp("graft-feb")) {
      (batch, id) => seen.add((id, batch.count()))
    }
    try {
      in.addData(1, 2, 3); q.processAllAvailable()
      in.addData(4); q.processAllAvailable()
      val batches = seen.toArray(Array.empty[(Long, Long)]).toSeq.sortBy(_._1)
      assert(batches.map(_._2) == Seq(3L, 1L), s"batches: $batches")
    } finally q.stop()
  }

  test("S6 streaming CDC upsert sink maintains a versioned snapshot") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Long, String, Long, Boolean)] // k, v, seq, del
    val target = tmp("graft-upsert-tgt")
    val q = Streams.upsertSink(in.toDF().toDF("k", "v", "seq", "del"),
      target, tmp("graft-upsert-ck"), Seq("k"), "seq", "del")
    try {
      // batch 0: two inserts
      in.addData((1L, "a", 1L, false), (2L, "b", 1L, false))
      q.processAllAvailable()
      val s0 = Streams.latestSnapshot(spark, target).get
        .as[(Long, String)].collect().toSet
      assert(s0 == Set((1L, "a"), (2L, "b")))
      // batch 1: update 1, delete 2, insert 3 — latest seq wins in-batch
      in.addData((1L, "a2", 2L, false), (1L, "a3", 3L, false),
        (2L, "b", 2L, true), (3L, "c", 1L, false))
      q.processAllAvailable()
      val s1 = Streams.latestSnapshot(spark, target).get
        .as[(Long, String)].collect().toSet
      assert(s1 == Set((1L, "a3"), (3L, "c")))
      // both versions exist — immutable history, reader takes latest
      val vs = new java.io.File(target).listFiles().map(_.getName).toSet
      assert(vs.exists(_.startsWith("v=")) && vs.size >= 2, s"versions: $vs")
    } finally q.stop()
  }

  test("S6b streaming IVM: aggSnapshotSink maintains an exact snapshot that MvRewrite serves") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(String, Double, Int)] // k, v, op
    val target = tmp("graft-ivm-tgt")
    val q = Streams.aggSnapshotSink(in.toDF().toDF("k", "v", "op"),
      target, tmp("graft-ivm-ck"), Seq("k"), "op", Seq("v"))
    try {
      // batch 0: inserts
      in.addData(("a", 1.5, 1), ("a", 2.5, 1), ("b", 10.0, 1))
      q.processAllAvailable()
      val s0 = graft.ops.Cdc.aggView(
          Streams.latestSnapshot(spark, target).get, Seq("v"))
        .as[(String, Long, Double)].collect().toSet
      assert(s0 == Set(("a", 2L, 4.0), ("b", 1L, 10.0)))
      // batch 1: retract one of a's rows, empty b entirely, new key c
      in.addData(("a", 1.5, -1), ("b", 10.0, -1), ("c", 7.25, 1))
      q.processAllAvailable()
      // retention: push enough batches that old versions get pruned,
      // while the latest snapshot stays correct
      in.addData(("c", 1.0, 1)); q.processAllAvailable()
      in.addData(("c", 1.0, -1)); q.processAllAvailable()
      val versionDirs = new java.io.File(target).listFiles()
        .map(_.getName).filter(_.startsWith("v=")).toSeq
      assert(versionDirs.size <= 3, s"retention did not prune: $versionDirs")
      val snap = Streams.latestSnapshot(spark, target).get
      // the streamed snapshot equals a from-scratch rebuild of the net rows
      val rebuilt = graft.ops.Cdc.aggSnapshot(
        Seq(("a", 2.5), ("c", 7.25)).toDF("k", "v"), Seq("k"), Seq("v"))
      assert(snap.orderBy("k").as[(String, Long, Long, Long)].collect().toSeq ==
        rebuilt.orderBy("k").as[(String, Long, Long, Long)].collect().toSeq)

      // ...and MvRewrite serves ad-hoc aggregates from it: write the net
      // rows as the "base table", register the maintained snapshot DIR —
      // the versioned registration resolves the freshest v=<batchId> at
      // every rewrite
      val baseDir = tmp("graft-ivm-base")
      Seq(("a", 2.5), ("c", 7.25)).toDF("k", "v")
        .write.mode("overwrite").parquet(baseDir)
      graft.plans.MvRewrite.registerVersioned(spark, baseDir, Seq("k"), Seq("v"), target)
      try {
        def query = spark.read.parquet(baseDir)
          .groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("s"))
        val snapPath = Streams.latestSnapshotPath(spark, target).get
        val plan = query.queryExecution.executedPlan.toString
        // partials layout: the navigated plan scans the target's delta
        // layers (never the base), resolved as of the committed version
        assert(plan.contains(s"$target/delta") && !plan.contains(baseDir),
          s"MV not served from streamed snapshot:\n$plan")
        assert(query.orderBy("k").as[(String, Long, Double)].collect().toSeq ==
          Seq(("a", 1L, 2.5), ("c", 1L, 7.25)))
        // push another batch: the SAME registration now serves the newer
        // version — no re-register, queries trail the stream by one batch
        in.addData(("d", 3.5, 1)); q.processAllAvailable()
        val snapPath2 = Streams.latestSnapshotPath(spark, target).get
        assert(snapPath2 != snapPath)
        val plan2 = query.queryExecution.executedPlan.toString
        assert(plan2.contains(s"$target/delta") && !plan2.contains(baseDir),
          s"versioned MV stuck on old version:\n$plan2")
        // the answer is the proof the new version is served: only the
        // newest batch's delta layer knows key d
        assert(query.orderBy("k").as[(String, Long, Double)].collect().toSeq ==
          Seq(("a", 1L, 2.5), ("c", 1L, 7.25), ("d", 1L, 3.5)))
      } finally graft.plans.MvRewrite.unregister(baseDir)
    } finally q.stop()
  }

  test("S6c append-only IVM: min/max maintained under the stream, MV answers them") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(String, Double)]
    val target = tmp("graft-ivm-ao-tgt")
    val q = Streams.aggSnapshotSinkAppendOnly(in.toDF().toDF("k", "v"),
      target, tmp("graft-ivm-ao-ck"), Seq("k"), Seq("v"))
    try {
      in.addData(("a", 5.0), ("a", 2.0), ("b", 7.5)); q.processAllAvailable()
      in.addData(("a", 1.25), ("c", 3.0)); q.processAllAvailable()
      // streamed snapshot == from-scratch rebuild, min/max included
      val all = Seq(("a", 5.0), ("a", 2.0), ("b", 7.5), ("a", 1.25), ("c", 3.0))
      val rebuilt = graft.ops.Cdc.aggSnapshotMinMax(all.toDF("k", "v"), Seq("k"), Seq("v"))
        .orderBy("k").as[(String, Long, Long, Long, Double, Double)].collect().toSeq
      val streamed = Streams.latestSnapshot(spark, target).get
        .orderBy("k").as[(String, Long, Long, Long, Double, Double)].collect().toSeq
      assert(streamed == rebuilt, s"append-only IVM drifted:\n$streamed\nvs\n$rebuilt")
      // MV loop: base = all rows; versioned registration with min/max
      val baseDir = tmp("graft-ivm-ao-base")
      all.toDF("k", "v").write.mode("overwrite").parquet(baseDir)
      graft.plans.MvRewrite.registerVersioned(spark, baseDir, Seq("k"), Seq("v"),
        target, minMaxMeasures = Seq("v"))
      try {
        val query = spark.read.parquet(baseDir).groupBy("k")
          .agg(min("v").as("mn"), max("v").as("mx"), sum("v").as("s"))
        val plan = query.queryExecution.executedPlan.toString
        assert(!plan.contains(baseDir), s"append-only MV not navigated:\n$plan")
        assert(query.orderBy("k").as[(String, Double, Double, Double)].collect().toSeq ==
          Seq(("a", 1.25, 5.0, 8.25), ("b", 7.5, 7.5, 7.5), ("c", 3.0, 3.0, 3.0)))
      } finally graft.plans.MvRewrite.unregister(baseDir)
    } finally q.stop()
  }

  test("S6d streamed KMV sketch snapshot == rebuild; MV answers kmv_distinct from it") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(String, Double, String)] // k, measure, distinct-target
    val target = tmp("graft-ivm-kmv-tgt")
    val q = Streams.aggSnapshotSinkAppendOnly(in.toDF().toDF("k", "v", "u"),
      target, tmp("graft-ivm-kmv-ck"), Seq("k"), Seq("v"),
      distinctCols = Seq("u"))
    try {
      in.addData(("a", 1.0, "u1"), ("a", 2.0, "u2"), ("b", 3.0, "x1"))
      q.processAllAvailable()
      in.addData(("a", 4.0, "u2"), ("a", 5.0, "u3"), ("b", 6.0, "x1"))
      q.processAllAvailable()
      // streamed sketch equals the one rebuilt from all rows in one pass
      val all = Seq(("a", 1.0, "u1"), ("a", 2.0, "u2"), ("b", 3.0, "x1"),
        ("a", 4.0, "u2"), ("a", 5.0, "u3"), ("b", 6.0, "x1"))
      val rebuilt = graft.ops.Cdc.aggSnapshotMinMax(all.toDF("k", "v", "u"),
          Seq("k"), Seq("v"), distinctCols = Seq("u"))
        .orderBy("k").select("k", "kmv_u").as[(String, Array[Long])].collect().toSeq
      val streamed = Streams.latestSnapshot(spark, target).get
        .orderBy("k").select("k", "kmv_u").as[(String, Array[Long])].collect().toSeq
      assert(streamed.map(_._1) == rebuilt.map(_._1))
      streamed.zip(rebuilt).foreach { case ((k1, a), (_, b)) =>
        assert(a.toSeq == b.toSeq, s"streamed kmv for $k1 diverged from rebuild")
      }
      // MV loop: ad-hoc kmv_distinct over the base is served from the
      // stream-maintained snapshot, answer identical to the direct one
      val baseDir = tmp("graft-ivm-kmv-base")
      all.toDF("k", "v", "u").write.mode("overwrite").parquet(baseDir)
      graft.plans.MvRewrite.registerVersioned(spark, baseDir, Seq("k"), Seq("v"),
        target, distinctCols = Seq("u"))
      try {
        def query = spark.read.parquet(baseDir).groupBy("k")
          .agg(org.apache.spark.sql.functions.expr("kmv_distinct(u)").as("d"))
        val plan = query.queryExecution.executedPlan.toString
        assert(!plan.contains(baseDir), s"streamed kmv MV not navigated:\n$plan")
        assert(query.orderBy("k").as[(String, Long)].collect().toSeq ==
          Seq(("a", 3L), ("b", 1L)))
      } finally graft.plans.MvRewrite.unregister(baseDir)
    } finally q.stop()
  }

  test("S6e fresh composition: snapshot + not-yet-ingested tail == direct, exactly current") {
    import spark.implicits._
    // the round-6 residual: versioned MV answers trail the stream by one
    // microbatch. Fresh registration closes it — the freshest committed
    // snapshot is composed with a partial aggregate over ONLY the base
    // files its _files manifest has not covered, so the navigated answer
    // equals the direct aggregate over the CURRENT base even while the
    // maintaining stream is down or behind.
    val baseDir = tmp("graft-fresh-base")
    val target = tmp("graft-fresh-tgt")
    val ckpt = tmp("graft-fresh-ck")
    Seq(("a", 1.0, "u1"), ("a", 2.0, "u2"), ("b", 3.0, "x1")).toDF("k", "v", "u")
      .repartition(1).write.mode("append").parquet(baseDir)
    def startStream() = Streams.aggSnapshotSinkAppendOnly(
      spark.readStream.schema("k string, v double, u string").parquet(baseDir),
      target, ckpt, Seq("k"), Seq("v"), distinctCols = Seq("u"))
    val q = startStream()
    try q.processAllAvailable() finally q.stop()
    // the stream is now STOPPED with its snapshot covering the first
    // file; more base files land while it is down — the exact lag
    // window fresh composition must close
    Seq(("a", 10.0, "u3"), ("c", 4.0, "y1")).toDF("k", "v", "u")
      .repartition(1).write.mode("append").parquet(baseDir)
    graft.plans.MvRewrite.registerVersionedFresh(spark, baseDir, Seq("k"), Seq("v"),
      target, minMaxMeasures = Seq("v"), distinctCols = Seq("u"))
    try {
      def query = spark.read.parquet(baseDir).groupBy("k")
        .agg(count(lit(1)).as("n"), sum("v").as("s"),
          min("v").as("mn"), max("v").as("mx"), expr("kmv_distinct(u)").as("d"))
      val planFresh = query.queryExecution.executedPlan.toString
      assert(planFresh.contains(s"$target/delta"),
        s"fresh MV did not use the snapshot:\n$planFresh")
      val got = query.orderBy("k")
        .as[(String, Long, Double, Double, Double, Long)].collect().toSeq
      graft.plans.MvRewrite.unregister(baseDir)
      val want = query.orderBy("k")
        .as[(String, Long, Double, Double, Double, Long)].collect().toSeq
      // the tail carries a NEW key (c) and a's new max (10.0): a stale
      // snapshot answer could not contain either
      assert(want.exists(_._1 == "c") && want.find(_._1 == "a").get._5 == 10.0)
      assert(got == want, s"fresh answer diverged mid-stream:\n$got\nvs\n$want")
      // catch the stream up: the tail drains, the SAME registration now
      // serves the pure snapshot — no base scan left in the plan
      graft.plans.MvRewrite.registerVersionedFresh(spark, baseDir, Seq("k"),
        Seq("v"), target, minMaxMeasures = Seq("v"), distinctCols = Seq("u"))
      val q2 = startStream()
      try q2.processAllAvailable() finally q2.stop()
      val plan2 = query.queryExecution.executedPlan.toString
      assert(!plan2.contains(baseDir),
        s"caught-up fresh MV still scans the base:\n$plan2")
      val got2 = query.orderBy("k")
        .as[(String, Long, Double, Double, Double, Long)].collect().toSeq
      assert(got2 == want, s"caught-up answer diverged:\n$got2\nvs\n$want")
      // integrity: a snapshot version WITHOUT a manifest cannot prove
      // coverage — fresh must bail to the direct scan, never serve stale
      val latest = Streams.latestSnapshotPath(spark, target).get
      assert(new java.io.File(s"$latest/_files").delete())
      val plan3 = query.queryExecution.executedPlan.toString
      assert(plan3.contains(baseDir) && !plan3.contains(target),
        s"manifest-less fresh registration did not bail to the base:\n$plan3")
    } finally graft.plans.MvRewrite.unregister(baseDir)
  }

  test("S6y partials-layout guards: empty first batch commits nothing; a reconfigured sink fails loudly") {
    import spark.implicits._
    val baseDir = tmp("graft-guard-base")
    val target = tmp("graft-guard-tgt")
    // batch 0 carries a FILE but zero rows: no delta layer exists, so
    // no version may commit (a resolvable version over a nonexistent
    // delta/ would make latestSnapshot throw instead of returning None)
    Seq.empty[(String, Double)].toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(baseDir)
    val ck = tmp("graft-guard-ck")
    val q = Streams.aggSnapshotSinkAppendOnly(
      spark.readStream.schema("k string, v double").parquet(baseDir),
      target, ck, Seq("k"), Seq("v"))
    try q.processAllAvailable() finally q.stop()
    assert(Streams.latestSnapshot(spark, target).isEmpty,
      "an empty first batch must not commit a resolvable version")
    // real data lands: the SAME checkpoint commits normally (a fresh
    // checkpoint would now die on the _query identity guard — S6ae)
    Seq(("a", 1.0)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(baseDir)
    val q2 = Streams.aggSnapshotSinkAppendOnly(
      spark.readStream.schema("k string, v double").parquet(baseDir),
      target, ck, Seq("k"), Seq("v"))
    try q2.processAllAvailable() finally q2.stop()
    assert(Streams.latestSnapshot(spark, target).get.count() == 1)
    // a sink reconfigured against the existing target (different scale)
    // must fail LOUDLY at its first trigger — mixing fixed-point units
    // across layers would silently corrupt every folded sum (a new
    // file lands first: the resumed checkpoint needs a fresh batch to
    // trigger on)
    Seq(("b", 2.0)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(baseDir)
    val q3 = Streams.aggSnapshotSinkAppendOnly(
      spark.readStream.schema("k string, v double").parquet(baseDir),
      target, ck, Seq("k"), Seq("v"), scale = 3)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q3.processAllAvailable() finally q3.stop()
    }
    assert(ex.getMessage.contains("mixing layouts") ||
      Option(ex.getCause).exists(_.getMessage.contains("mixing layouts")),
      s"expected the layout-mismatch guard, got: ${ex.getMessage}")
  }

  test("S6x staleness-gated navigation: within the gate the MV answers; beyond it the direct scan does") {
    import spark.implicits._
    val baseDir = tmp("graft-gate-base")
    val target = tmp("graft-gate-tgt")
    Seq(("a", 1.0), ("b", 2.0)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(baseDir)
    val q = Streams.aggSnapshotSinkAppendOnly(
      spark.readStream.schema("k string, v double").parquet(baseDir),
      target, tmp("graft-gate-ck"), Seq("k"), Seq("v"))
    try q.processAllAvailable() finally q.stop()
    graft.plans.MvRewrite.registerVersioned(spark, baseDir, Seq("k"),
      Seq("v"), target, maxPendingFiles = Some(0L))
    try {
      def query = spark.read.parquet(baseDir).groupBy("k")
        .agg(count(lit(1)).as("n"), sum("v").as("s"))
      // caught up (pending = 0): navigates
      val plan0 = query.queryExecution.executedPlan.toString
      assert(plan0.contains(s"$target/delta") && !plan0.contains(baseDir),
        s"caught-up gated MV did not navigate:\n$plan0")
      assert(query.orderBy("k").as[(String, Long, Double)].collect().toSeq ==
        Seq(("a", 1L, 1.0), ("b", 1L, 2.0)))
      // a file lands with the stream down: pending = 1 > 0 — the gate
      // must route to the direct scan, whose answer INCLUDES the new
      // rows (current, just unaccelerated) — never the stale snapshot
      Seq(("a", 10.0), ("c", 3.0)).toDF("k", "v")
        .coalesce(1).write.mode("append").parquet(baseDir)
      val plan1 = query.queryExecution.executedPlan.toString
      assert(plan1.contains(baseDir) && !plan1.contains(target),
        s"stale gated MV still navigated:\n$plan1")
      assert(query.orderBy("k").as[(String, Long, Double)].collect().toSeq ==
        Seq(("a", 2L, 11.0), ("b", 1L, 2.0), ("c", 1L, 3.0)),
        "gated fallback did not serve the current base")
      assert(graft.plans.MvRewrite.recentBails.exists(_.contains("staleness gate")),
        s"gate bail not recorded: ${graft.plans.MvRewrite.recentBails}")
      // a looser gate tolerates the one-file lag and navigates again —
      // serving the snapshot's (behind-by-contract) answer
      graft.plans.MvRewrite.registerVersioned(spark, baseDir, Seq("k"),
        Seq("v"), target, maxPendingFiles = Some(5L))
      val plan2 = query.queryExecution.executedPlan.toString
      assert(plan2.contains(s"$target/delta"),
        s"loose gate did not navigate:\n$plan2")
      assert(query.orderBy("k").as[(String, Long, Double)].collect().toSeq ==
        Seq(("a", 1L, 1.0), ("b", 1L, 2.0)))
    } finally graft.plans.MvRewrite.unregister(baseDir)
  }

  test("S6h fresh + bucketed: exactly-current date_trunc rollup from a day-keyed stream snapshot") {
    import spark.implicits._
    // the dashboard combination: GROUP BY date_trunc('day', ts), served
    // from a day-keyed stream-maintained snapshot, EXACTLY current —
    // the tail partials re-derive the bucket column before folding
    val baseDir = tmp("graft-fb-base")
    val target = tmp("graft-fb-tgt")
    val ckpt = tmp("graft-fb-ck")
    def row(day: Int, hour: Int, v: Double, u: String) =
      (Timestamp.valueOf(f"2024-03-$day%02d $hour%02d:00:00"), v, u)
    Seq(row(1, 1, 1.0, "u1"), row(1, 2, 2.0, "u2"), row(2, 5, 3.0, "u1"))
      .toDF("ts", "v", "u")
      .repartition(1).write.mode("append").parquet(baseDir)
    val bucket = date_trunc("day", col("ts"))
    def startStream() = Streams.aggSnapshotSinkAppendOnly(
      spark.readStream.schema("ts timestamp, v double, u string").parquet(baseDir)
        .withColumn("day", bucket),
      target, ckpt, Seq("day"), Seq("v"), distinctCols = Seq("u"))
    val q = startStream()
    try q.processAllAvailable() finally q.stop()
    // new files land while the stream is down: more rows in day 2 (one
    // from a NEW distinct user) and a brand-new day 3 — only the fresh
    // tail can know any of it
    Seq(row(2, 9, 10.0, "u3"), row(3, 4, 4.0, "u1")).toDF("ts", "v", "u")
      .repartition(1).write.mode("append").parquet(baseDir)
    graft.plans.MvRewrite.registerVersionedFresh(spark, baseDir, Seq("day"),
      Seq("v"), target, minMaxMeasures = Seq("v"), distinctCols = Seq("u"),
      derivedKeys = Map("day" -> bucket))
    try {
      // the triple composition: derived bucket key × fresh tail × KMV
      // distinct — "exactly-current distinct users per day"
      def query = spark.read.parquet(baseDir)
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n"), sum("v").as("s"), max("v").as("mx"),
          expr("kmv_distinct(u)").as("du"))
      val plan = query.queryExecution.executedPlan.toString
      assert(plan.contains(s"$target/delta"),
        s"fresh bucketed MV did not use the snapshot:\n$plan")
      val got = query.orderBy("day")
        .as[(Timestamp, Long, Double, Double, Long)].collect().toSeq
      graft.plans.MvRewrite.unregister(baseDir)
      val want = query.orderBy("day")
        .as[(Timestamp, Long, Double, Double, Long)].collect().toSeq
      assert(want.size == 3 && want.last._2 == 1L
        && want(1) == (Timestamp.valueOf("2024-03-02 00:00:00"), 2L, 13.0, 10.0, 2L))
      assert(got == want, s"fresh bucketed answer diverged:\n$got\nvs\n$want")
      // caught up -> pure snapshot, no base scan
      graft.plans.MvRewrite.registerVersionedFresh(spark, baseDir, Seq("day"),
        Seq("v"), target, minMaxMeasures = Seq("v"), distinctCols = Seq("u"),
        derivedKeys = Map("day" -> bucket))
      val q2 = startStream()
      try q2.processAllAvailable() finally q2.stop()
      val plan2 = query.queryExecution.executedPlan.toString
      assert(!plan2.contains(baseDir),
        s"caught-up fresh bucketed MV still scans the base:\n$plan2")
      assert(query.orderBy("day")
        .as[(Timestamp, Long, Double, Double, Long)].collect().toSeq == want)
    } finally graft.plans.MvRewrite.unregister(baseDir)
  }

  test("S6j fresh composition inside a star rollup: exactly-current fact ⋈ dim dashboards") {
    import spark.implicits._
    // composition of two round-8 pieces: the star rewrite joins `snap`
    // — which for a FRESH registration is snapshot ∪ tail-partials — so
    // a fact ⋈ dim GROUP BY dim.attr dashboard is exactly current even
    // while the maintaining stream is down, without any special casing
    val baseDir = tmp("graft-freshstar-base")
    val target = tmp("graft-freshstar-tgt")
    val ckpt = tmp("graft-freshstar-ck")
    val dimDir = tmp("graft-freshstar-dim")
    Seq(("a", 1.0), ("a", 2.0), ("b", 3.0)).toDF("k", "v")
      .repartition(1).write.mode("append").parquet(baseDir)
    Seq(("a", "g1"), ("b", "g2"), ("c", "g1")).toDF("dk", "grp")
      .write.mode("overwrite").parquet(dimDir)
    val q = Streams.aggSnapshotSinkAppendOnly(
      spark.readStream.schema("k string, v double").parquet(baseDir),
      target, ckpt, Seq("k"), Seq("v"))
    try q.processAllAvailable() finally q.stop()
    // tail lands while the stream is down: a NEW key c joins dim g1
    Seq(("a", 10.0), ("c", 4.0)).toDF("k", "v")
      .repartition(1).write.mode("append").parquet(baseDir)
    graft.plans.MvRewrite.registerVersionedFresh(spark, baseDir, Seq("k"),
      Seq("v"), target)
    try {
      def query = spark.read.parquet(baseDir)
        .join(spark.read.parquet(dimDir), col("k") === col("dk"))
        .groupBy("grp").agg(count(lit(1)).as("n"), sum("v").as("s"))
      val plan = query.queryExecution.executedPlan.toString
      assert(plan.contains(s"$target/delta") && plan.contains(dimDir),
        s"fresh star did not navigate:\n$plan")
      val got = query.orderBy("grp").as[(String, Long, Double)].collect().toSeq
      graft.plans.MvRewrite.unregister(baseDir)
      val want = query.orderBy("grp").as[(String, Long, Double)].collect().toSeq
      // only the tail knows key c (g1's second member) and a's 10.0
      assert(want == Seq(("g1", 4L, 17.0), ("g2", 1L, 3.0)))
      assert(got == want, s"fresh star diverged:\n$got\nvs\n$want")
      // ROLLUP over the fresh star composes too: the Expand rebuilds
      // above (snapshot ∪ tail) ⋈ dim with no special casing
      graft.plans.MvRewrite.registerVersionedFresh(spark, baseDir, Seq("k"),
        Seq("v"), target)
      spark.read.parquet(baseDir).createOrReplaceTempView("fs_f")
      spark.read.parquet(dimDir).createOrReplaceTempView("fs_d")
      def roll = spark.sql(
        """SELECT grp, count(*) AS n, sum(v) AS s
          |FROM fs_f JOIN fs_d ON k = dk GROUP BY ROLLUP(grp)""".stripMargin)
      val rPlan = roll.queryExecution.executedPlan.toString
      assert(rPlan.contains(s"$target/delta"),
        s"fresh star rollup did not navigate:\n$rPlan")
      val gotR = roll.collect().map(_.toString).sorted.toSeq
      graft.plans.MvRewrite.unregister(baseDir)
      val wantR = roll.collect().map(_.toString).sorted.toSeq
      assert(gotR == wantR && wantR.size == 3,
        s"fresh star rollup diverged:\n$gotR\nvs\n$wantR")
      spark.catalog.dropTempView("fs_f")
      spark.catalog.dropTempView("fs_d")
    } finally graft.plans.MvRewrite.unregister(baseDir)
  }

  test("S6k skipping-index sink: streamed index == full rebuild; prunes off the latest version") {
    import spark.implicits._
    // the index trails ingestion by one microbatch instead of a nightly
    // full-scan rebuild: each batch's rows come from the file source's
    // own checkpoint log (no directory listing), and only the NEW files
    // are scanned
    val baseDir = tmp("graft-skipidx-base")
    val target = tmp("graft-skipidx-tgt")
    val ckpt = tmp("graft-skipidx-ck")
    def land(lo: Int, hi: Int): Unit =
      (lo until hi).map(i => (i.toLong * 7919L, s"p$i")).toDF("uid", "payload")
        .repartition(2).write.mode("append").parquet(baseDir)
    land(0, 400)
    val q = Streams.skippingIndexSink(
      spark.readStream.schema("uid long, payload string").parquet(baseDir),
      target, ckpt, Seq("uid"), fpCols = Seq("uid"))
    try {
      q.processAllAvailable()
      land(400, 800)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = Streams.latestSkippingIndex(spark, target).get
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("file").collect().map(_.toSeq.map {
        case b: Array[Byte] => java.util.Arrays.hashCode(b).toString
        case x => String.valueOf(x)
      }.mkString("|")).toSeq
    val rebuilt = graft.ops.Layout.statsIndexFingerprint(spark, baseDir,
      Seq("uid"), Seq("uid"))
    assert(canon(streamed) == canon(rebuilt),
      "streamed skipping index diverged from the full rebuild")
    assert(streamed.count() == 4) // 2 files per landing
    // point lookups prune off the maintained index mid-stream
    val probe = 399L * 7919L
    val pruned = graft.ops.Layout.readPrunedEquals(spark, streamed,
      Map("uid" -> probe))
    assert(pruned.filter(col("uid") === probe).count() == 1)
    assert(pruned.inputFiles.length < 4,
      s"maintained index pruned nothing: ${pruned.inputFiles.length} of 4 files")
    // the batch-dir layout means the sink never rewrites the
    // cumulative index — and the shared compaction lifecycle applies:
    // compact + vacuum, the resolved index is unchanged row-for-row
    assert(Streams.compactIndex(spark, target, "stats", Seq("file"),
      targetFiles = 1).isDefined)
    assert(Streams.vacuumIndex(spark, target, "stats").nonEmpty)
    val compacted = Streams.latestSkippingIndex(spark, target).get
    assert(canon(compacted) == canon(rebuilt),
      "compaction changed the resolved skipping index")
    val prunedC = graft.ops.Layout.readPrunedEquals(spark, compacted,
      Map("uid" -> probe))
    assert(prunedC.filter(col("uid") === probe).count() == 1)
  }

  test("S6l bm25 index sink: maintained retrieval == one-shot; uncommitted postings never scored") {
    import spark.implicits._
    // ranked retrieval maintained from the ingestion stream: per batch,
    // postings land once under postings/batch=<id> and df/stats merge
    // by integer addition — so the served ranking must equal the
    // one-shot batch pass over the same corpus BIT-FOR-BIT
    val baseDir = tmp("graft-bm25sink-base")
    val target = tmp("graft-bm25sink-tgt")
    val ckpt = tmp("graft-bm25sink-ck")
    def land(lo: Int, hi: Int): Unit =
      (lo until hi).map(i => (i.toLong,
        s"join hash w$i " + Seq.fill(i % 5)("filler").mkString(" ")))
        .toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(baseDir)
    land(0, 50)
    val q = Streams.bm25IndexSink(
      spark.readStream.schema("doc_id long, text string").parquet(baseDir),
      target, ckpt, "doc_id", "text")
    val queries = Seq((1, "join"), (1, "hash"), (2, "w7"), (2, "w63"))
      .toDF("query_id", "term")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "doc_id").collect().map(_.toString).toSeq
    try {
      q.processAllAvailable()
      land(50, 100)
      q.processAllAvailable()
    } finally q.stop()
    val served = canon(Streams.bm25SearchMaintained(spark, target, queries, 5))
    val oneShot = canon(graft.ops.TextAnalysis.bm25BatchTopK(
      spark.read.parquet(baseDir), "doc_id", "text", queries, 5))
    assert(served == oneShot,
      s"maintained retrieval diverged:\n$served\nvs\n$oneShot")
    assert(served.nonEmpty)
    // a crash between the postings write and the version commit leaves
    // an orphan batch directory — it must NEVER be scored (postings are
    // pruned to batch <= the resolved version)
    (900L until 905L).map(i => (s"w7", i, 5L, 3L))
      .toDF("term", "doc_id", "tf", "dl")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$target/postings/batch=99")
    assert(canon(Streams.bm25SearchMaintained(spark, target, queries, 5))
      == served, "orphan uncommitted postings leaked into the ranking")
    // freshness is knowable off the same target (batchId + offsets),
    // and the coverage manifest makes the retrieval index's lag a
    // pending-file COUNT
    assert(Streams.freshnessOf(spark, target).exists(_.version == 1L))
    assert(Streams.freshnessLagOf(spark, target, Some(baseDir))
      .exists(_.pendingFiles.contains(0L)), "caught-up index must report 0 pending")
    land(100, 120)
    assert(Streams.freshnessLagOf(spark, target, Some(baseDir))
      .exists(_.pendingFiles.contains(1L)),
      "one un-indexed corpus file must count as 1 pending")
    // fresh composition: docs 100..119 are invisible to the version —
    // their unique terms rank via the on-the-fly tail tokenize, with
    // df/doc-count merged by the commit's own integer algebra, so the
    // WHOLE fresh result equals the one-shot pass over the full corpus
    // bit-for-bit (idf/avgdl exactly as they will be once indexed)
    val fq = queries.union(Seq((3, "w105")).toDF("query_id", "term"))
    val fresh = canon(Streams.bm25SearchFresh(spark, target, baseDir, fq, 5))
    assert(fresh == canon(graft.ops.TextAnalysis.bm25BatchTopK(
      spark.read.parquet(baseDir), "doc_id", "text", fq, 5)),
      "fresh retrieval diverged from the one-shot pass")
    assert(fresh.exists(_.startsWith("[3,105")), s"tail doc not ranked: $fresh")
    assert(!canon(Streams.bm25SearchMaintained(spark, target, fq, 5))
      .exists(_.startsWith("[3,")),
      "version-only search must not see the un-indexed tail")
    // TIME TRAVEL: asOf the FIRST committed version ranks exactly what
    // retrieval served before the second batch landed — the one-shot
    // pass over docs 0..49 alone (w63 exists only at version 1)
    val asOf0 = canon(Streams.bm25SearchMaintained(spark, target, queries, 5,
      asOf = Some(0L)))
    assert(asOf0 == canon(graft.ops.TextAnalysis.bm25BatchTopK(
      (0 until 50).map(i => (i.toLong,
        s"join hash w$i " + Seq.fill(i % 5)("filler").mkString(" ")))
        .toDF("doc_id", "text"),
      "doc_id", "text", queries, 5)),
      "asOf-0 retrieval diverged from the one-shot over the first batch")
    assert(asOf0 != served, "the two versions must rank differently here")
    // expired/uncommitted travel refuses rather than nearest-neighboring
    assert(intercept[IllegalArgumentException](
      Streams.bm25SearchMaintained(spark, target, queries, 5, asOf = Some(42L)))
      .getMessage.contains("not a retained committed version"))
  }

  test("S6m ivfpq index sink: maintained ANN == one-shot; torn batches never served; fresh tail found") {
    import spark.implicits._
    import graft.ops.Similarity
    // the ANN assignments index maintained from the ingestion stream
    // under FROZEN trained state: per-row encoding is a pure function
    // of that state, so the streamed index must equal a one-shot
    // encode row-for-row and the served ranking must match
    // ivfPqSearch over it bit-for-bit
    val baseDir = tmp("graft-ivfpqsink-base")
    val target = tmp("graft-ivfpqsink-tgt")
    val ckpt = tmp("graft-ivfpqsink-ck")
    val cells = tmp("graft-ivfpqsink-cells") + "/c"
    val books = tmp("graft-ivfpqsink-books") + "/b"
    // injective over the id range (period 101 > 90), so the planted
    // l2=0 twin below is the ONLY exact match for its query
    def vec(i: Int): Array[Float] =
      Array.tabulate(8)(j => (((i * 31 + j * 17) % 101) - 50).toFloat / 16f)
    def land(rows: Seq[(Long, Array[Float])]): Unit =
      rows.toDF("vec_id", "embedding")
        .coalesce(1).write.mode("append").parquet(baseDir)
    land((0 until 60).map(i => (i.toLong, vec(i))))
    // train ONCE over the first landing, freeze + persist
    val idx0 = Similarity.ivfPqBuild(spark.read.parquet(baseDir),
      nCells = 4, ivfIters = 2, m = 2, codes = 4, pqIters = 1, dim = 8)
    Similarity.saveIvfCentroids(spark, idx0.cellSums, idx0.cellCounts, cells)
    Similarity.savePqCodebooks(spark, idx0.pqSums, idx0.pqCounts, books)
    val q = Streams.ivfPqIndexSink(
      spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1).parquet(baseDir),
      target, ckpt, cells, books, dim = 8)
    try {
      q.processAllAvailable()
      land((60 until 90).map(i => (i.toLong, vec(i))))
      q.processAllAvailable()
    } finally q.stop()
    val base = spark.read.parquet(baseDir)
    val queries = base.filter($"vec_id" < 3)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rk").collect().map(_.toString).toSeq
    // streamed assignments == one-shot encode under the same frozen
    // state, as a row set
    val streamed = spark.read.parquet(s"$target/assign")
      .select("neighbor_id", "cell_id", "codes")
      .collect().map(_.toString).sorted.toSeq
    val oneShotIdx = Similarity.ivfPqEncode(base, idx0.cellSums,
      idx0.cellCounts, idx0.pqSums, idx0.pqCounts, dim = 8)
    assert(streamed == oneShotIdx.collect().map(_.toString).sorted.toSeq,
      "streamed assignments diverged from the one-shot encode")
    val served = canon(Streams.ivfPqSearchMaintained(spark, target, cells,
      books, queries, base, topK = 3, nProbe = 2, dim = 8))
    val oneShot = canon(Similarity.ivfPqSearch(queries, base, oneShotIdx,
      idx0.cellSums, idx0.cellCounts, idx0.pqSums, idx0.pqCounts,
      topK = 3, nProbe = 2, dim = 8))
    assert(served == oneShot, s"maintained ANN diverged:\n$served\nvs\n$oneShot")
    assert(served.nonEmpty)
    // a crash between the assignment write and the version commit
    // leaves an orphan batch directory — it must NEVER be served
    // (assignments are pruned to batch <= the resolved version)
    Seq((999L, 0L, Array(0, 0))).toDF("neighbor_id", "cell_id", "codes")
      .coalesce(1).write.mode("overwrite").parquet(s"$target/assign/batch=99")
    assert(canon(Streams.ivfPqSearchMaintained(spark, target, cells, books,
      queries, base, topK = 3, nProbe = 2, dim = 8)) == served,
      "orphan uncommitted assignments leaked into the ranking")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(s"$target/assign/batch=99"))
    // raw FS delete, so same-session readers need the listing refreshed
    // (the targetedDelete lesson)
    spark.catalog.refreshByPath(s"$target/assign")
    // freshness: caught-up index reports 0 pending base files
    assert(Streams.freshnessLagOf(spark, target, Some(baseDir))
      .exists(_.pendingFiles.contains(0L)))
    // the pinned corpus state, captured BEFORE the tail vector lands
    val pin = Streams.corpusPin(spark, baseDir)
    // fresh composition: a vector landing AFTER the stream stopped —
    // identical to query 1, so it must rank first for it — is found by
    // the fresh path (tail encoded on the fly) and invisible to the
    // version-only path
    land(Seq((999L, vec(1))))
    assert(Streams.freshnessLagOf(spark, target, Some(baseDir))
      .exists(_.pendingFiles.contains(1L)))
    val maintained = Streams.ivfPqSearchMaintained(spark, target, cells,
      books, queries, spark.read.parquet(baseDir), topK = 3, nProbe = 2,
      dim = 8)
    assert(maintained.filter($"neighbor_id" === 999L).isEmpty,
      "version-only search must not see the un-indexed tail")
    // rescore=32 covers every candidate: with this toy codebook (m=2,
    // k=4 => 16 combos) the twin's ADC ties its whole code cell and the
    // id-ascending tie-break would otherwise drop the NEWEST id from a
    // narrow shortlist — the exact-l2 stage is what must see it
    val fresh = Streams.ivfPqSearchFresh(spark, target, cells, books,
      baseDir, queries, topK = 3, nProbe = 2, dim = 8, rescore = 32)
    val hit = fresh.filter($"query_id" === 1L && $"neighbor_id" === 999L)
      .select("l2", "rk").collect()
    assert(hit.map(r => (r.getLong(0), r.getInt(1))).toSeq == Seq((0L, 1)),
      s"tail twin of query 1 must rank first with l2=0: ${hit.mkString(",")}")
    // and the fresh ranking equals a one-shot over the WHOLE base
    val full = spark.read.parquet(baseDir)
    val freshOracle = canon(Similarity.ivfPqSearch(queries, full,
      Similarity.ivfPqEncode(full, idx0.cellSums, idx0.cellCounts,
        idx0.pqSums, idx0.pqCounts, dim = 8),
      idx0.cellSums, idx0.cellCounts, idx0.pqSums, idx0.pqCounts,
      topK = 3, nProbe = 2, dim = 8, rescore = 32))
    assert(canon(fresh) == freshOracle,
      "fresh composition diverged from the one-shot over the full base")
    // PINNED read: the pin predates 999 — even after a restarted sink
    // INDEXES 999 (the latest version now covers files beyond the
    // pin), the pinned search walks BACK to the newest version the pin
    // contains and answers exactly what `served` saw at that state
    val q2 = Streams.ivfPqIndexSink(
      spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1).parquet(baseDir),
      target, ckpt, cells, books, dim = 8)
    try q2.processAllAvailable() finally q2.stop()
    assert(!Streams.ivfPqSearchMaintained(spark, target, cells, books,
      queries, spark.read.parquet(baseDir), topK = 3, nProbe = 2, dim = 8,
      rescore = 32).filter($"neighbor_id" === 999L).isEmpty,
      "the restarted sink must have indexed the twin")
    val pinnedRes = Streams.ivfPqSearchFresh(spark, target, cells, books,
      baseDir, queries, topK = 3, nProbe = 2, dim = 8, pin = Some(pin))
    assert(pinnedRes.filter($"neighbor_id" === 999L).isEmpty,
      "a post-pin vector leaked into the pinned ANN read")
    assert(canon(pinnedRes) == oneShot,
      "pinned ANN read diverged from the one-shot over the pinned corpus")
  }

  test("S6n lsh index sink: maintained near-dup == one-shot; torn batches never probed") {
    import spark.implicits._
    import graft.ops.Dedup
    // the near-dup index maintained from the ingestion stream:
    // signatures are a pure per-row function, so the streamed index
    // must equal the one-shot buildLshIndex and the maintained probe
    // must match nearDupsAgainstIndex bit-for-bit
    val baseDir = tmp("graft-lshsink-base")
    val target = tmp("graft-lshsink-tgt")
    val ckpt = tmp("graft-lshsink-ck")
    def doc(id: Long, shingles: Seq[Long]) = (id, shingles.toArray)
    def land(rows: Seq[(Long, Array[Long])]): Unit =
      rows.toDF("doc_id", "sh")
        .coalesce(1).write.mode("append").parquet(baseDir)
    // corpus docs 0..19, each with 10 distinct shingles
    land((0 until 10).map(i => doc(i.toLong, (0 until 10).map(j => (i * 10 + j).toLong))))
    val q = Streams.lshIndexSink(
      spark.readStream.schema("doc_id long, sh array<bigint>")
        .option("maxFilesPerTrigger", 1).parquet(baseDir),
      target, ckpt, "doc_id", "sh")
    try {
      q.processAllAvailable()
      land((10 until 20).map(i => doc(i.toLong, (0 until 10).map(j => (i * 10 + j).toLong))))
      q.processAllAvailable()
    } finally q.stop()
    // probe batch: 100 duplicates doc 7 exactly; 101 is disjoint
    val probe = Seq(doc(100L, (70 until 80).map(_.toLong)),
      doc(101L, (9000 until 9010).map(_.toLong))).toDF("doc_id", "sh")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("corpus_id", "batch_id").collect().map(_.toString).toSeq
    val served = canon(Streams.nearDupsMaintained(spark, target, probe,
      "doc_id", "sh", threshold = 0.5))
    val oneShot = canon(Dedup.nearDupsAgainstIndex(
      Dedup.buildLshIndex(spark.read.parquet(baseDir), "doc_id", "sh"),
      probe, "doc_id", "sh", threshold = 0.5))
    assert(served == oneShot, s"maintained near-dup diverged:\n$served\nvs\n$oneShot")
    // the exact duplicate is guaranteed found (identical sets =>
    // identical signatures => every band matches)
    assert(served.exists(_.contains("[7,100,1.0]")),
      s"exact duplicate of doc 7 not found: $served")
    assert(!served.exists(_.contains("101")), "disjoint doc must not pair")
    // a crash between the index write and the version commit leaves an
    // orphan batch directory — it must NEVER be probed
    Dedup.buildLshIndex(Seq(doc(999L, (70 until 80).map(_.toLong)))
        .toDF("doc_id", "sh"), "doc_id", "sh")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$target/index/batch=99")
    assert(canon(Streams.nearDupsMaintained(spark, target, probe,
      "doc_id", "sh", threshold = 0.5)) == served,
      "orphan uncommitted index rows leaked into the probe")
    // caught-up index reports 0 pending; one more landing counts as 1
    assert(Streams.freshnessLagOf(spark, target, Some(baseDir))
      .exists(_.pendingFiles.contains(0L)))
    land(Seq(doc(200L, (0 until 10).map(j => (2000 + j).toLong))))
    assert(Streams.freshnessLagOf(spark, target, Some(baseDir))
      .exists(_.pendingFiles.contains(1L)))
    // fresh composition: doc 200 landed after the stream stopped — a
    // probe duplicating it is blocked by the fresh path (tail signed
    // on the fly) and invisible to the version-only path
    val probe2 = Seq(doc(300L, (2000 until 2010).map(_.toLong)))
      .toDF("doc_id", "sh")
    val fresh = canon(Streams.nearDupsFresh(spark, target, baseDir, probe2,
      "doc_id", "sh", threshold = 0.5))
    assert(fresh.exists(_.contains("[200,300,1.0]")),
      s"tail dup not found by the fresh path: $fresh")
    assert(canon(Streams.nearDupsMaintained(spark, target, probe2,
      "doc_id", "sh", threshold = 0.5)).isEmpty,
      "version-only probe must not see the un-signed tail")
    assert(fresh == canon(Dedup.nearDupsAgainstIndex(
      Dedup.buildLshIndex(spark.read.parquet(baseDir), "doc_id", "sh"),
      probe2, "doc_id", "sh", threshold = 0.5)),
      "fresh near-dup diverged from the one-shot index over the full base")
  }

  test("S6ab corpusPin: every artifact answers at ONE pinned corpus state — walk-back + pin-only tail") {
    import spark.implicits._
    import graft.ops.Dedup
    // ONE corpus feeds BOTH maintained artifacts (text for retrieval,
    // shingles for near-dup), each trailing ingestion differently —
    // the read-skew setup corpusPin exists to fix
    val baseDir = tmp("graft-pin-base")
    val bmTgt = tmp("graft-pin-bm"); val bmCk = tmp("graft-pin-bmck")
    val lshTgt = tmp("graft-pin-lsh"); val lshCk = tmp("graft-pin-lshck")
    def land(rows: Seq[(Long, String, Array[Long])]): Unit =
      rows.toDF("doc_id", "text", "sh")
        .coalesce(1).write.mode("append").parquet(baseDir)
    def doc(i: Long) = (i, s"alpha w$i beta g${i % 7}",
      (0 until 8).map(j => (i * 8 + j)).toArray)
    land((0L until 10L).map(doc))   // f0
    land((10L until 20L).map(doc))  // f1
    // the files every committed version will cover — the stale-pin
    // probe below must drop one of THESE (pin order is lexicographic,
    // not arrival)
    val firstTwo = Streams.corpusPin(spark, baseDir)
    // the LSH sink indexes f0,f1 and stops — it will TRAIL the pin
    val lq = Streams.lshIndexSink(
      spark.readStream.schema("doc_id long, text string, sh array<bigint>")
        .option("maxFilesPerTrigger", 1).parquet(baseDir),
      lshTgt, lshCk, "doc_id", "sh")
    try lq.processAllAvailable() finally lq.stop()
    land((20L until 30L).map(doc))  // f2 — in the pin, indexed by NO ONE
    val pin = Streams.corpusPin(spark, baseDir)
    assert(pin.size == 3)
    // doc 777 duplicates doc 5 exactly (text AND shingles) but lands
    // AFTER the pin; the BM25 sink then indexes EVERYTHING in batches
    // of two files, so its latest version covers files beyond the pin
    land(Seq((777L, doc(5L)._2, doc(5L)._3))) // f3 — post-pin
    val bq = Streams.bm25IndexSink(
      spark.readStream.schema("doc_id long, text string, sh array<bigint>")
        .option("maxFilesPerTrigger", 2).parquet(baseDir),
      bmTgt, bmCk, "doc_id", "text")
    try bq.processAllAvailable() finally bq.stop()
    val queries = Seq((1, "w5"), (2, "w25")).toDF("query_id", "term")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "doc_id").collect().map(_.toString).toSeq
    // UNPINNED reads see the skew: retrieval ranks the post-pin twin…
    assert(canon(Streams.bm25SearchMaintained(spark, bmTgt, queries, 5))
      .exists(_.contains("[1,777")),
      "the latest BM25 version must already serve the post-pin doc")
    // …while the pinned read walks BACK to the version covering
    // {f0,f1}, composes the pin-only tail {f2}, and equals the
    // one-shot pass over exactly the pinned files — 777 invisible,
    // the tail's w25 doc found
    val bmPinned = canon(Streams.bm25SearchFresh(spark, bmTgt, baseDir,
      queries, 5, pin = Some(pin)))
    assert(bmPinned == canon(graft.ops.TextAnalysis.bm25BatchTopK(
      spark.read.parquet(pin: _*), "doc_id", "text", queries, 5)),
      "pinned retrieval diverged from the one-shot over the pinned corpus")
    assert(!bmPinned.exists(_.contains("777")),
      s"a post-pin doc leaked into the pinned ranking: $bmPinned")
    assert(bmPinned.exists(_.startsWith("[2,25")),
      s"the pin-only tail doc must rank: $bmPinned")
    // near-dup at the SAME pin: probe 900 duplicates doc 25 (pin-only
    // tail — must block), probe 901 duplicates doc 5/777
    val probe = Seq((900L, doc(25L)._3), (901L, doc(5L)._3))
      .toDF("doc_id", "sh")
    val lshPinned = Streams.nearDupsFresh(spark, lshTgt, baseDir, probe,
      "doc_id", "sh", threshold = 0.5, pin = Some(pin))
      .orderBy("corpus_id", "batch_id").collect().map(_.toString).toSeq
    assert(lshPinned.exists(_.contains("[25,900,1.0]")),
      s"pin-only tail doc must block its duplicate: $lshPinned")
    assert(lshPinned.exists(_.contains("[5,901,1.0]")),
      s"indexed doc must block its duplicate: $lshPinned")
    assert(!lshPinned.exists(_.contains("777")),
      s"a post-pin doc leaked into the pinned near-dup read: $lshPinned")
    // the pinned reads are mutually CONSISTENT: both artifacts answer
    // over {f0,f1,f2} exactly — one-shot over the pinned files
    assert(lshPinned == Dedup.nearDupsAgainstIndex(
      Dedup.buildLshIndex(spark.read.parquet(pin: _*), "doc_id", "sh"),
      probe, "doc_id", "sh", threshold = 0.5)
      .orderBy("corpus_id", "batch_id").collect().map(_.toString).toSeq,
      "pinned near-dup diverged from the one-shot over the pinned corpus")
    // a pin OLDER than every retained version refuses loudly: drop a
    // file every committed version covers — unverifiable coverage is
    // not coverage
    val stale = pin.filterNot(_ == firstTwo.head)
    assert(intercept[IllegalStateException](
      Streams.bm25SearchFresh(spark, bmTgt, baseDir, queries, 5,
        pin = Some(stale))).getMessage.contains("pinned corpus state"))
  }

  test("S6v lshIndexDelete: a forgotten doc pairs with nothing — batch dirs AND generations scrubbed") {
    assume(!rocksdb)
    import spark.implicits._
    import graft.ops.Dedup
    val baseDir = tmp("graft-lshdel-base")
    val target = tmp("graft-lshdel-tgt")
    val ckpt = tmp("graft-lshdel-ck")
    def doc(id: Long, shingles: Seq[Long]) = (id, shingles.toArray)
    def land(rows: Seq[(Long, Array[Long])]): Unit =
      rows.toDF("doc_id", "sh")
        .coalesce(1).write.mode("append").parquet(baseDir)
    land((0 until 10).map(i => doc(i.toLong, (0 until 10).map(j => (i * 10 + j).toLong))))
    val q = Streams.lshIndexSink(
      spark.readStream.schema("doc_id long, sh array<bigint>")
        .option("maxFilesPerTrigger", 1).parquet(baseDir),
      target, ckpt, "doc_id", "sh")
    try {
      q.processAllAvailable()
      land((10 until 20).map(i => doc(i.toLong, (0 until 10).map(j => (i * 10 + j).toLong))))
      q.processAllAvailable()
    } finally q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("corpus_id", "batch_id").collect().map(_.toString).toSeq
    // probe duplicates docs 7 (batch-dir layer) and 15 (second layer)
    val probe = Seq(doc(100L, (70 until 80).map(_.toLong)),
      doc(101L, (150 until 160).map(_.toLong))).toDF("doc_id", "sh")
    val before = canon(Streams.nearDupsMaintained(spark, target, probe,
      "doc_id", "sh", threshold = 0.5))
    assert(before.exists(_.contains("[7,100,1.0]")) &&
      before.exists(_.contains("[15,101,1.0]")), s"setup probe failed: $before")
    // forget doc 7 out of the batch-dir layers: only the layer holding
    // it is rewritten, doc 15's pair survives untouched
    assert(Streams.lshIndexDelete(spark, target, "doc_id", Seq(7L)) == 1)
    val afterBatchDel = canon(Streams.nearDupsMaintained(spark, target, probe,
      "doc_id", "sh", threshold = 0.5))
    assert(!afterBatchDel.exists(_.contains("[7,")),
      s"forgotten doc 7 still pairs: $afterBatchDel")
    assert(afterBatchDel.exists(_.contains("[15,101,1.0]")),
      "deletion damaged an unrelated signature")
    // now fold everything into a generation and forget doc 15 FROM the
    // generation — the compaction-aware half
    assert(Streams.compactIndex(spark, target, "index", Seq("doc_id"),
      targetFiles = 1).isDefined)
    assert(Streams.vacuumIndex(spark, target, "index").nonEmpty)
    assert(Streams.lshIndexDelete(spark, target, "doc_id", Seq(15L)) == 1)
    val afterGenDel = canon(Streams.nearDupsMaintained(spark, target, probe,
      "doc_id", "sh", threshold = 0.5))
    assert(!afterGenDel.exists(_.contains("[15,")),
      s"doc 15 still pairs after the generation scrub: $afterGenDel")
    // the scrubbed index equals a one-shot index built WITHOUT the
    // forgotten docs — nothing else moved
    assert(afterGenDel == canon(Dedup.nearDupsAgainstIndex(
      Dedup.buildLshIndex(spark.read.parquet(baseDir)
        .filter(!col("doc_id").isin(7L, 15L)), "doc_id", "sh"),
      probe, "doc_id", "sh", threshold = 0.5)),
      "scrubbed index diverged from the rebuilt-without-them index")
    // ids absent everywhere rewrite nothing
    assert(Streams.lshIndexDelete(spark, target, "doc_id", Seq(424242L)) == 0)
  }

  test("S6w out-of-band compact+vacuum between LIVE sink triggers: answers identical; double-compaction is a no-op") {
    assume(!rocksdb)
    import spark.implicits._
    // compactIndex/vacuumIndex are documented as schedulable maintenance
    // jobs — this pins the interleaving: a SECOND session compacts and
    // vacuums while the sink is still running (between triggers), and
    // both the external maintenance and the sink's subsequent commits
    // stay correct because each pins committed versions/generations
    // before touching anything.
    val baseDir = tmp("graft-oob-base")
    val target = tmp("graft-oob-tgt")
    val ckpt = tmp("graft-oob-ck")
    def land(b: Int): Unit =
      (0 until 20).map(i => ((b * 20 + i).toLong,
        s"join hash w${b * 20 + i}")).toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(baseDir)
    val queries = Seq((1, "join"), (2, "w25"), (3, "w47")).toDF("query_id", "term")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "doc_id").collect().map(_.toString).toSeq
    def oneShot() = canon(graft.ops.TextAnalysis.bm25BatchTopK(
      spark.read.parquet(baseDir), "doc_id", "text", queries, 5))
    land(0); land(1)
    val q = Streams.bm25IndexSink(
      spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1).parquet(baseDir),
      target, ckpt, "doc_id", "text")
    try {
      q.processAllAvailable()
      assert(canon(Streams.bm25SearchMaintained(spark, target, queries, 5))
        == oneShot(), "pre-maintenance search diverged")
      // EXTERNAL maintenance while the sink query is live (idle between
      // triggers): compact, then prove re-compacting with no new batches
      // is a no-op, then vacuum twice (second must find nothing)
      assert(Streams.compactIndex(spark, target, "postings", Seq("term"),
        targetFiles = 1) == Some(1L))
      assert(Streams.compactIndex(spark, target, "postings", Seq("term"),
        targetFiles = 1, minBatches = 1).isEmpty,
        "double-compaction of an unchanged subdir must be a no-op")
      assert(Streams.vacuumIndex(spark, target, "postings") == Seq(0L, 1L))
      assert(Streams.vacuumIndex(spark, target, "postings").isEmpty,
        "second vacuum must find nothing left to free")
      assert(canon(Streams.bm25SearchMaintained(spark, target, queries, 5))
        == oneShot(), "external compact+vacuum changed the served ranking")
      // the LIVE sink keeps committing OVER the external generation: the
      // next trigger's batch dir becomes the tail of c=1
      land(2)
      q.processAllAvailable()
      assert(canon(Streams.bm25SearchMaintained(spark, target, queries, 5))
        == oneShot(), "post-maintenance trigger diverged")
      val (gens, dirs) = Streams.compactionsOf(spark, target, "postings")
      assert(gens == Seq(1L) && dirs == Seq(2L),
        s"expected generation 1 + tail batch 2, got gens=$gens dirs=$dirs")
      // a second external compaction folds generation + live tail
      assert(Streams.compactIndex(spark, target, "postings", Seq("term"),
        targetFiles = 1, minBatches = 1) == Some(2L))
      assert(canon(Streams.bm25SearchMaintained(spark, target, queries, 5))
        == oneShot(), "re-compaction over the live tail changed the ranking")
    } finally q.stop()
  }

  test("S6ac maintainArtifact: one call discovers and runs the whole lifecycle; answers never change") {
    assume(!rocksdb)
    import spark.implicits._
    import graft.ops.Dedup
    // --- BM25 target: postings + df discovered together -------------
    val bmBase = tmp("graft-maint-bmb"); val bmTgt = tmp("graft-maint-bmt")
    val bmCk = tmp("graft-maint-bmc")
    def landDocs(lo: Int, hi: Int): Unit =
      (lo until hi).map(i => (i.toLong, s"alpha w$i beta"))
        .toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(bmBase)
    landDocs(0, 10); landDocs(10, 20); landDocs(20, 30)
    def bmSink() = Streams.bm25IndexSink(
      spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1).parquet(bmBase),
      bmTgt, bmCk, "doc_id", "text")
    val q1 = bmSink(); try q1.processAllAvailable() finally q1.stop()
    val queries = Seq((1, "alpha"), (2, "w15")).toDF("query_id", "term")
    def rank() = Streams.bm25SearchMaintained(spark, bmTgt, queries, 4)
      .orderBy("query_id", "doc_id").collect().map(_.toString).toSeq
    val before = rank()
    // one call: finds postings AND df, compacts both, first-vacuum
    // grace holds (one generation -> nothing freed)
    val r1 = Streams.maintainArtifact(spark, bmTgt, targetFiles = 1,
      maxTail = 0)
    assert(r1.map(_._1).sorted == Seq("df", "postings"), s"discovered: $r1")
    assert(r1.forall(_._2.contains(2L)), s"not compacted through 2: $r1")
    assert(r1.forall(_._3.isEmpty), s"first vacuum must wait: $r1")
    assert(rank() == before, "maintenance changed the ranking")
    // steady state: nothing to do, still no vacuum beyond grace
    val r2 = Streams.maintainArtifact(spark, bmTgt, targetFiles = 1,
      maxTail = 0)
    assert(r2.forall(r => r._2.isEmpty && r._3.isEmpty), s"no-op expected: $r2")
    // more batches land -> second generation; NOW vacuum frees the
    // batches the oldest generation covers
    landDocs(30, 40); landDocs(40, 50)
    val q2 = bmSink(); try q2.processAllAvailable() finally q2.stop()
    val afterLand = rank()
    val r3 = Streams.maintainArtifact(spark, bmTgt, targetFiles = 1,
      maxTail = 0)
    assert(r3.forall(_._2.contains(4L)), s"second generation missing: $r3")
    assert(r3.forall(_._3 == Seq(0L, 1L, 2L)),
      s"vacuum must free the oldest generation's batches: $r3")
    assert(rank() == afterLand, "vacuum changed the ranking")
    // --- LSH target: id column inferred from the layer schema -------
    val lshBase = tmp("graft-maint-lb"); val lshTgt = tmp("graft-maint-lt")
    def sig(i: Long) = (0 until 8).map(j => i * 8 + j).toArray
    (0 until 2).foreach(k => (k * 10 until k * 10 + 10)
      .map(i => (i.toLong, sig(i.toLong))).toDF("doc_id", "sh")
      .coalesce(1).write.mode("append").parquet(lshBase))
    val lq = Streams.lshIndexSink(
      spark.readStream.schema("doc_id long, sh array<bigint>")
        .option("maxFilesPerTrigger", 1).parquet(lshBase),
      lshTgt, tmp("graft-maint-lc"), "doc_id", "sh")
    try lq.processAllAvailable() finally lq.stop()
    val probe = Seq((100L, sig(7L))).toDF("doc_id", "sh")
    def pairs() = Streams.nearDupsMaintained(spark, lshTgt, probe,
      "doc_id", "sh", threshold = 0.5)
      .orderBy("corpus_id").collect().map(_.toString).toSeq
    val lshBefore = pairs()
    val lr = Streams.maintainArtifact(spark, lshTgt, targetFiles = 1,
      minBatches = 1)
    assert(lr.map(_._1) == Seq("index") && lr.head._2.contains(1L),
      s"LSH layer not discovered/compacted: $lr")
    assert(pairs() == lshBefore && lshBefore.nonEmpty,
      "maintenance changed the near-dup answer")
    // a SECOND call must no-op, not throw: the generation's schema
    // stores the batch column a raw batch dir only carries as a
    // partition, and the id-column inference must not trip on it
    val lr2 = Streams.maintainArtifact(spark, lshTgt, targetFiles = 1,
      minBatches = 1)
    assert(lr2.forall(r => r._2.isEmpty),
      s"second LSH maintenance must be a no-op: $lr2")
    assert(pairs() == lshBefore)
    // --- agg-snapshot target: partials FOLDED, not concatenated -----
    val agBase = tmp("graft-maint-ab"); val agTgt = tmp("graft-maint-at")
    (0 until 2).foreach(k => Seq(("a", 1.0 + k), ("b", 2.0))
      .toDF("k", "v").coalesce(1).write.mode("append").parquet(agBase))
    val aq = Streams.aggSnapshotSinkAppendOnly(
      spark.readStream.schema("k string, v double")
        .option("maxFilesPerTrigger", 1).parquet(agBase),
      agTgt, tmp("graft-maint-ac"), Seq("k"), Seq("v"))
    try aq.processAllAvailable() finally aq.stop()
    def snap() = Streams.latestSnapshot(spark, agTgt).get
      .orderBy("k").collect().map(_.toString).toSeq
    val agBefore = snap()
    val ar = Streams.maintainArtifact(spark, agTgt, targetFiles = 1,
      minBatches = 1)
    assert(ar.map(_._1) == Seq("delta") && ar.head._2.contains(1L),
      s"partials layer not discovered/compacted: $ar")
    assert(snap() == agBefore, "maintenance changed the snapshot")
    // folded: the generation holds one partial row per live key
    assert(spark.read.parquet(s"$agTgt/compact/delta/c=1")
      .groupBy("k").count().filter(col("count") > 1).isEmpty,
      "generation must hold ONE folded partial per key")
  }

  test("S6ad mergeSink: merge-on-read == upsertSink bit-for-bit; tombstones vanish in generations") {
    assume(!rocksdb)
    import spark.implicits._
    val baseDir = tmp("graft-mor-base")
    val morTgt = tmp("graft-mor-t"); val morCk = tmp("graft-mor-tc")
    val upTgt = tmp("graft-mor-u"); val upCk = tmp("graft-mor-uc")
    def land(rows: Seq[(Long, String, Long, Boolean)]): Unit =
      rows.toDF("k", "payload", "seq", "del")
        .coalesce(1).write.mode("append").parquet(baseDir)
    // batch 0: keys 1..10 inserted
    land((1L to 10L).map(k => (k, s"v1-$k", 1L, false)))
    // batch 1: 1..5 updated, 11 inserted, 3 DELETED at a HIGH seq
    land((1L to 5L).map(k => (k, s"v2-$k", 2L, false)) ++
      Seq((11L, "v1-11", 1L, false), (3L, "gone", 9L, true)))
    // batch 2: 3 REINSERTED at a LOWER seq than its tombstone — a
    // later BATCH must win over a higher earlier seq (upsertSink's
    // application order) — and 7 deleted
    land(Seq((3L, "back-3", 1L, false), (7L, "gone", 5L, true)))
    def stream() = spark.readStream
      .schema("k long, payload string, seq long, del boolean")
      .option("maxFilesPerTrigger", 1).parquet(baseDir)
    val mq = Streams.mergeSink(stream(), morTgt, morCk, Seq("k"), "seq", "del")
    try mq.processAllAvailable() finally mq.stop()
    val uq = Streams.upsertSink(stream(), upTgt, upCk, Seq("k"), "seq", "del")
    try uq.processAllAvailable() finally uq.stop()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("k").collect().map(_.toString).toSeq
    def upsertAt(v: Long) = spark.read.parquet(s"$upTgt/v=$v")
    val served = canon(Streams.latestTable(spark, morTgt).get)
    assert(served == canon(upsertAt(2L)),
      s"merge-on-read diverged from the upsert snapshot:\n$served")
    assert(served.exists(_ == "[3,back-3]"),
      "a later batch must win over a higher earlier seq")
    assert(!served.exists(_.startsWith("[7,")), "deleted key must vanish")
    assert(served.size == 10) // 10 original + 11 inserted - 3rein ok - 7 del
    // TIME TRAVEL: version 1 == what upsertSink served at version 1
    // (3 still deleted, 11 present)
    val at1 = canon(Streams.snapshotAsOf(spark, morTgt, 1L))
    assert(at1 == canon(upsertAt(1L)), "asOf-1 diverged from upsert v=1")
    assert(!at1.exists(_.startsWith("[3,")) && at1.exists(_.startsWith("[11,")))
    // compaction folds to live rows only: tombstones and masked
    // versions VANISH from the generation (it is the complete state)
    val r = Streams.maintainArtifact(spark, morTgt, targetFiles = 1,
      minBatches = 1)
    assert(r.map(_._1) == Seq("rows") && r.head._2.contains(2L),
      s"rows layer not discovered/compacted: $r")
    val gen = spark.read.parquet(s"$morTgt/compact/rows/c=2")
    assert(gen.filter(col("del")).isEmpty, "tombstones must vanish in a generation")
    assert(gen.count() == 10, "generation must hold exactly the live rows")
    assert(canon(Streams.latestTable(spark, morTgt).get) == served,
      "compaction changed the served table")
    // right-to-be-forgotten: scrub a key through every layer
    assert(Streams.tableDelete(spark, morTgt, "k", Seq(2L)) >= 1)
    val after = canon(Streams.latestTable(spark, morTgt).get)
    assert(after == served.filterNot(_.startsWith("[2,")),
      "tableDelete must remove exactly the forgotten key")
    // the key's BYTES are gone from every layer, batch dirs and
    // generation alike — not merely masked
    assert(spark.read.parquet(s"$morTgt/rows")
      .filter(col("k") === 2L).isEmpty, "forgotten key still in a batch dir")
    assert(spark.read.parquet(s"$morTgt/compact/rows/c=2")
      .filter(col("k") === 2L).isEmpty, "forgotten key still in the generation")
    // point lookup: a key predicate pushed BELOW resolution returns
    // exactly the filtered table — including the reinsert-after-delete
    // key, whose tombstone the pre-filter must still see and out-order
    val looked = canon(Streams.latestTableWhere(spark, morTgt,
      col("k").isin(3L, 7L, 9L)).get)
    assert(looked == after.filter(s =>
      s.startsWith("[3,") || s.startsWith("[7,") || s.startsWith("[9,")),
      s"pushed key lookup diverged: $looked")
    // a non-key predicate cannot commute with latest-wins — refused
    assert(intercept[IllegalArgumentException](
      Streams.latestTableWhere(spark, morTgt, col("payload") === "x"))
      .getMessage.contains("commute"))
  }

  test("S6ae checkpoint-identity guard: a fresh checkpoint cannot silently overwrite a target; add-column evolution reads clean") {
    assume(!rocksdb)
    import spark.implicits._
    val baseDir = tmp("graft-guard-base")
    val tgt = tmp("graft-guard-t")
    val ck1 = tmp("graft-guard-ck1")
    Seq((1L, "a", 1L, false), (2L, "b", 1L, false))
      .toDF("k", "payload", "seq", "del")
      .coalesce(1).write.mode("append").parquet(baseDir)
    val q = Streams.mergeSink(
      spark.readStream.schema("k long, payload string, seq long, del boolean")
        .parquet(baseDir), tgt, ck1, Seq("k"), "seq", "del")
    try q.processAllAvailable() finally q.stop()
    assert(Streams.latestTable(spark, tgt).get.count() == 2)
    // a DIFFERENT checkpoint against the same target: batch numbering
    // would restart at 0 and the replay-overwrite discipline would
    // treat committed history as its own failed attempt — the guard
    // must kill the stream at its first trigger, target untouched
    Seq((9L, "x", 9L, false)).toDF("k", "payload", "seq", "del")
      .coalesce(1).write.mode("append").parquet(s"$baseDir-2")
    val rogue = Streams.mergeSink(
      spark.readStream.schema("k long, payload string, seq long, del boolean")
        .parquet(s"$baseDir-2"), tgt, tmp("graft-guard-ck2"),
      Seq("k"), "seq", "del")
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try rogue.processAllAvailable() finally rogue.stop()
    }
    assert(ex.getMessage.contains("maintained by checkpoint query"),
      s"guard message missing: ${ex.getMessage}")
    assert(canon2(Streams.latestTable(spark, tgt).get)
      == Seq("[1,a]", "[2,b]"), "the rogue sink must not have touched the target")
    // same checkpoint, schema gains a nullable column: old rows read
    // with the new column null, updates resolve normally, compaction
    // folds the widened shape
    Seq((1L, "a2", 2L, false, "x1"), (3L, "c", 1L, false, "x3"))
      .toDF("k", "payload", "seq", "del", "extra")
      .coalesce(1).write.mode("append").parquet(baseDir)
    val q2 = Streams.mergeSink(
      spark.readStream
        .schema("k long, payload string, seq long, del boolean, extra string")
        .parquet(baseDir), tgt, ck1, Seq("k"), "seq", "del")
    try q2.processAllAvailable() finally q2.stop()
    def rows() = Streams.latestTable(spark, tgt).get
      .orderBy("k").collect().map(_.toString).toSeq
    val evolved = rows()
    assert(evolved == Seq("[1,a2,x1]", "[2,b,null]", "[3,c,x3]"),
      s"evolved read wrong: $evolved")
    assert(Streams.compactTable(spark, tgt, targetFiles = 1,
      minBatches = 1).contains(1L))
    assert(rows() == evolved, "compaction changed the evolved table")
  }

  private def canon2(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.orderBy("k").collect().map(_.toString).toSeq

  test("S6af mergeSink changelog: ±ops telescope to the final table; deletes/reinserts emit the right sides") {
    assume(!rocksdb)
    import spark.implicits._
    val baseDir = tmp("graft-cdf-base")
    val tgt = tmp("graft-cdf-t")
    def land(rows: Seq[(Long, String, Long, Boolean)]): Unit =
      rows.toDF("k", "payload", "seq", "del")
        .coalesce(1).write.mode("append").parquet(baseDir)
    land((1L to 5L).map(k => (k, s"v1-$k", 1L, false)))
    land(Seq((1L, "v2-1", 2L, false),          // update
      (3L, "gone", 9L, true),                  // delete
      (6L, "v1-6", 1L, false)))                // insert
    land(Seq((3L, "back-3", 1L, false)))       // reinsert after delete
    val q = Streams.mergeSink(
      spark.readStream.schema("k long, payload string, seq long, del boolean")
        .option("maxFilesPerTrigger", 1).parquet(baseDir),
      tgt, tmp("graft-cdf-ck"), Seq("k"), "seq", "del", changelog = true)
    try q.processAllAvailable() finally q.stop()
    val feed = Streams.changelogOf(spark, tgt)
      .orderBy("batch", "op", "k").collect()
      .map(r => (r.getAs[Long]("batch"), r.getAs[Int]("op"),
        r.getAs[Long]("k"), r.getAs[String]("payload"))).toSeq
    // batch 0: assertions only
    assert(feed.filter(_._1 == 0L) ==
      (1L to 5L).map(k => (0L, 1, k, s"v1-$k")), s"batch-0 feed: $feed")
    // batch 1: update retracts OLD value and asserts new; delete
    // retracts only; insert asserts only
    assert(feed.filter(_._1 == 1L).toSet == Set(
      (1L, -1, 1L, "v1-1"), (1L, -1, 3L, "v1-3"),
      (1L, 1, 1L, "v2-1"), (1L, 1, 6L, "v1-6")), s"batch-1 feed: $feed")
    // batch 2: reinsert of a DELETED key asserts only (nothing to
    // retract — the pre-batch state has no row for it)
    assert(feed.filter(_._1 == 2L) == Seq((2L, 1, 3L, "back-3")),
      s"batch-2 feed: $feed")
    // the ops TELESCOPE: net count per key == presence, and the
    // net-asserted payload set == the final table
    val net = feed.groupBy(_._3).view.mapValues(_.map(_._2).sum).toMap
    val table = Streams.latestTable(spark, tgt).get
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(table.forall { case (k, _) => net(k) == 1 } &&
      net.filter(_._2 == 0).keySet ==
        net.keySet -- table.map(_._1).toSet,
      s"net ops do not telescope: $net vs $table")
    // sinceVersion cuts the consumed prefix
    assert(Streams.changelogOf(spark, tgt, sinceVersion = 1L)
      .count() == 1)
    // compaction + vacuum of the rows/ layers never touch the feed
    assert(Streams.maintainArtifact(spark, tgt, targetFiles = 1,
      minBatches = 1).exists(r => r._1 == "rows" && r._2.contains(2L)))
    assert(Streams.changelogOf(spark, tgt)
      .orderBy("batch", "op", "k").collect()
      .map(r => (r.getAs[Long]("batch"), r.getAs[Int]("op"),
        r.getAs[Long]("k"), r.getAs[String]("payload"))).toSeq == feed,
      "maintenance changed the change feed")
    // right-to-be-forgotten reaches the HISTORY too: scrubbing key 1
    // removes its rows from the table layers AND its old values from
    // the feed's retraction rows — forgetting the table while keeping
    // its change history would forget nothing
    assert(Streams.tableDelete(spark, tgt, "k", Seq(1L)) >= 2)
    assert(Streams.changelogOf(spark, tgt).filter(col("k") === 1L).isEmpty,
      "forgotten key still in the change feed")
    assert(Streams.latestTable(spark, tgt).get.filter(col("k") === 1L).isEmpty)
  }

  test("S6ag changelog -> ±op MV: a grouped snapshot over a MUTABLE base tracks updates, moves, deletes") {
    assume(!rocksdb)
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // merge table keyed by k with a GROUP column g and measure v: an
    // update can MOVE a row between groups — exactly what append-only
    // coverage can't express and the derived retractions can
    val baseDir = tmp("graft-cdfmv-base")
    val tgt = tmp("graft-cdfmv-t")
    def land(rows: Seq[(Long, String, Double, Long, Boolean)]): Unit =
      rows.toDF("k", "g", "v", "seq", "del")
        .coalesce(1).write.mode("append").parquet(baseDir)
    land(Seq((1L, "a", 10.0, 1L, false), (2L, "a", 20.0, 1L, false),
      (3L, "b", 30.0, 1L, false)))
    land(Seq((1L, "b", 15.0, 2L, false),   // moves 1 from a to b, new v
      (4L, "a", 5.0, 1L, false)))          // insert
    land(Seq((2L, "a", 0.0, 9L, true)))    // delete 2
    val q = Streams.mergeSink(
      spark.readStream
        .schema("k long, g string, v double, seq long, del boolean")
        .option("maxFilesPerTrigger", 1).parquet(baseDir),
      tgt, tmp("graft-cdfmv-ck"), Seq("k"), "seq", "del", changelog = true)
    try q.processAllAvailable() finally q.stop()
    // feed the change feed, batch order preserved, into the ±op MV
    // sink — the algebra must compose with no adaptation at all
    val feed = Streams.changelogOf(spark, tgt)
      .select("batch", "g", "v", "op")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getInt(3))).toSeq.sortBy(_._1)
    val in = MemoryStream[(String, Double, Int)]
    val mvTgt = tmp("graft-cdfmv-mv")
    val mv = Streams.aggSnapshotSink(in.toDF().toDF("g", "v", "op"),
      mvTgt, tmp("graft-cdfmv-mvck"), Seq("g"), "op", Seq("v"))
    try {
      feed.map(_._1).distinct.sorted.foreach { b =>
        in.addData(feed.filter(_._1 == b).map(t => (t._2, t._3, t._4)))
        mv.processAllAvailable()
      }
    } finally mv.stop()
    val snap = Streams.latestSnapshot(spark, mvTgt).get
      .orderBy("g").collect().map(_.toString).toSeq
    // == the snapshot REBUILT from the final table: group a holds only
    // the inserted key 4 (1 moved out, 2 deleted), b holds 3 and the
    // moved-in 1 at its new measure
    val rebuilt = graft.ops.Cdc.aggSnapshot(
        Streams.latestTable(spark, tgt).get.select("g", "v"),
        Seq("g"), Seq("v"))
      .orderBy("g").collect().map(_.toString).toSeq
    assert(snap == rebuilt,
      s"changelog-driven MV diverged from rebuild:\n$snap\nvs\n$rebuilt")
    assert(Streams.latestTable(spark, tgt).get.count() == 3)
  }

  test("S6ah live pipeline: CDC -> merge table -> change feed -> grouped MV, every hop streaming") {
    assume(!rocksdb)
    import spark.implicits._
    // the medallion shape end to end: raw CDC files (bronze) feed the
    // merge table (silver), whose emitted change feed is itself a
    // file STREAM feeding the grouped ±op MV (gold) — no batch glue
    // anywhere, and the retraction algebra is order-free so the gold
    // sink may split a feed batch across triggers without harm
    val baseDir = tmp("graft-pipe-base")
    val tgt = tmp("graft-pipe-t"); val mvTgt = tmp("graft-pipe-mv")
    def land(rows: Seq[(Long, String, Double, Long, Boolean)]): Unit =
      rows.toDF("k", "g", "v", "seq", "del")
        .coalesce(1).write.mode("append").parquet(baseDir)
    land(Seq((1L, "a", 10.0, 1L, false), (2L, "a", 20.0, 1L, false),
      (3L, "b", 30.0, 1L, false)))
    land(Seq((1L, "b", 15.0, 2L, false), (4L, "a", 5.0, 1L, false)))
    val silver = Streams.mergeSink(
      spark.readStream
        .schema("k long, g string, v double, seq long, del boolean")
        .option("maxFilesPerTrigger", 1).parquet(baseDir),
      tgt, tmp("graft-pipe-ck"), Seq("k"), "seq", "del", changelog = true)
    try {
      silver.processAllAvailable()
      val gold = Streams.aggSnapshotSink(
        spark.readStream.schema("k long, g string, v double, op int")
          .option("maxFilesPerTrigger", 1).parquet(s"$tgt/changelog/*"),
        mvTgt, tmp("graft-pipe-mvck"), Seq("g"), "op", Seq("v"))
      try {
        gold.processAllAvailable()
        def snap() = Streams.latestSnapshot(spark, mvTgt).get
          .orderBy("g").collect().map(_.toString).toSeq
        def rebuilt() = graft.ops.Cdc.aggSnapshot(
            Streams.latestTable(spark, tgt).get.select("g", "v"),
            Seq("g"), Seq("v"))
          .orderBy("g").collect().map(_.toString).toSeq
        assert(snap() == rebuilt(),
          s"gold diverged from silver rebuild:\n${snap()}\nvs\n${rebuilt()}")
        // more CDC lands while BOTH hops run: a delete and another
        // group move flow through without restarts
        land(Seq((2L, "a", 0.0, 9L, true), (4L, "b", 7.0, 2L, false)))
        silver.processAllAvailable()
        gold.processAllAvailable()
        assert(snap() == rebuilt(),
          s"gold diverged after live mutations:\n${snap()}\nvs\n${rebuilt()}")
        assert(Streams.latestTable(spark, tgt).get.count() == 3)
      } finally gold.stop()
    } finally silver.stop()
  }

  test("S6o compactIndex lifecycle: answers identical before/after compaction and vacuum; file count collapses") {
    // FS-level lifecycle, state-store independent — run once
    assume(!rocksdb)
    import spark.implicits._
    val baseDir = tmp("graft-compact-base")
    val target = tmp("graft-compact-tgt")
    val ckpt = tmp("graft-compact-ck")
    def land(lo: Int, hi: Int, extra: String = ""): Unit =
      (lo until hi).map(i => (i.toLong,
        s"join hash w$i $extra " + Seq.fill(i % 5)("filler").mkString(" ")))
        .toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(baseDir)
    land(0, 30); land(30, 60); land(60, 90)
    def mkSink() = Streams.bm25IndexSink(
      spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1).parquet(baseDir),
      target, ckpt, "doc_id", "text")
    val q0 = mkSink()
    try q0.processAllAvailable() finally q0.stop()
    val queries = Seq((1, "join"), (1, "hash"), (2, "w7"), (2, "w63"))
      .toDF("query_id", "term")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "doc_id").collect().map(_.toString).toSeq
    val before = canon(Streams.bm25SearchMaintained(spark, target, queries, 5))
    assert(before.nonEmpty)
    // an orphan batch dir beyond the committed version (the torn-write
    // shape) must be invisible to compaction too
    Seq(("w7", 999L, 5L, 3L)).toDF("term", "doc_id", "tf", "dl")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$target/postings/batch=99")
    // three per-batch dirs collapse into ONE term-clustered generation
    assert(Streams.compactIndex(spark, target, "postings", Seq("term"),
      targetFiles = 2) == Some(2L))
    assert(canon(Streams.bm25SearchMaintained(spark, target, queries, 5))
      == before, "compaction changed the served ranking")
    val gen = new java.io.File(s"$target/compact/postings/c=2")
    assert(gen.listFiles().count(_.getName.endsWith(".parquet")) <= 2,
      "compacted generation must hold at most targetFiles files")
    assert(spark.read.parquet(gen.toString)
      .filter($"doc_id" === 999L).isEmpty,
      "uncommitted orphan batch leaked into the compacted generation")
    // steady-state no-op: nothing uncompacted
    assert(Streams.compactIndex(spark, target, "postings", Seq("term"),
      targetFiles = 2).isEmpty)
    // the stream keeps going: a new batch lands AFTER the compaction —
    // served off generation + tail union
    land(90, 95, "zebra")
    val q1 = mkSink()
    try q1.processAllAvailable() finally q1.stop()
    val queries2 = queries.union(Seq((3, "zebra")).toDF("query_id", "term"))
    val mid = canon(Streams.bm25SearchMaintained(spark, target, queries2, 5))
    assert(mid.exists(_.contains("3,9")),
      s"post-compaction batch invisible to the maintained search: $mid")
    // re-compaction folds the tail into a new generation WITHOUT
    // re-reading anything a prior vacuum could have freed
    assert(Streams.compactIndex(spark, target, "postings", Seq("term"),
      targetFiles = 2, minBatches = 1) == Some(3L))
    // vacuum frees only batches covered by the OLDEST retained
    // generation (c=2): batch dirs 0..2 go, the tail dir and the
    // orphan stay
    assert(Streams.vacuumIndex(spark, target, "postings") == Seq(0L, 1L, 2L))
    assert(!new java.io.File(s"$target/postings/batch=0").exists())
    assert(!new java.io.File(s"$target/postings/batch=2").exists())
    assert(new java.io.File(s"$target/postings/batch=3").exists())
    assert(Streams.vacuumIndex(spark, target, "postings").isEmpty)
    // post-vacuum answers equal the one-shot batch pass over the whole
    // corpus — the lifecycle never touches semantics
    assert(canon(Streams.bm25SearchMaintained(spark, target, queries2, 5))
      == canon(graft.ops.TextAnalysis.bm25BatchTopK(
        spark.read.parquet(baseDir), "doc_id", "text", queries2, 5)),
      "post-vacuum ranking diverged from the one-shot pass")
    // and fresh composition stacks on the compacted+vacuumed state:
    // generation ∪ tail batch dir ∪ un-indexed landing, one answer
    land(95, 99, "quokka")
    val queries3 = queries2.union(Seq((4, "quokka")).toDF("query_id", "term"))
    val fresh = canon(Streams.bm25SearchFresh(spark, target, baseDir, queries3, 5))
    assert(fresh == canon(graft.ops.TextAnalysis.bm25BatchTopK(
      spark.read.parquet(baseDir), "doc_id", "text", queries3, 5)),
      "fresh search over the compacted index diverged from the one-shot pass")
    assert(fresh.exists(_.startsWith("[4,9")),
      s"fresh search missed the un-indexed landing: $fresh")
  }

  test("S6p compactIndex on the ANN and LSH maintained indexes: served results survive compact + vacuum") {
    assume(!rocksdb)
    import spark.implicits._
    import graft.ops.{Dedup, Similarity}
    // --- IVF×PQ assignments ---
    val vBase = tmp("graft-compann-base")
    val vTgt = tmp("graft-compann-tgt")
    val vCk = tmp("graft-compann-ck")
    val cells = tmp("graft-compann-cells") + "/c"
    val books = tmp("graft-compann-books") + "/b"
    def vec(i: Int): Array[Float] =
      Array.tabulate(8)(j => (((i * 31 + j * 17) % 101) - 50).toFloat / 16f)
    (0 until 30).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(vBase)
    (30 until 60).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(vBase)
    val idx0 = Similarity.ivfPqBuild(spark.read.parquet(vBase),
      nCells = 4, ivfIters = 2, m = 2, codes = 4, pqIters = 1, dim = 8)
    Similarity.saveIvfCentroids(spark, idx0.cellSums, idx0.cellCounts, cells)
    Similarity.savePqCodebooks(spark, idx0.pqSums, idx0.pqCounts, books)
    val qa = Streams.ivfPqIndexSink(
      spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1).parquet(vBase),
      vTgt, vCk, cells, books, dim = 8)
    try qa.processAllAvailable() finally qa.stop()
    val base = spark.read.parquet(vBase)
    val annQ = base.filter($"vec_id" < 3)
    def canonA(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rk").collect().map(_.toString).toSeq
    val annBefore = canonA(Streams.ivfPqSearchMaintained(spark, vTgt, cells,
      books, annQ, base, topK = 3, nProbe = 2, dim = 8))
    assert(Streams.compactIndex(spark, vTgt, "assign", Seq("cell_id"),
      targetFiles = 1).isDefined)
    assert(Streams.vacuumIndex(spark, vTgt, "assign").nonEmpty)
    assert(new java.io.File(s"$vTgt/assign").listFiles()
      .forall(!_.getName.startsWith("batch=")),
      "vacuum left batch dirs the generation covers")
    assert(canonA(Streams.ivfPqSearchMaintained(spark, vTgt, cells, books,
      annQ, base, topK = 3, nProbe = 2, dim = 8)) == annBefore,
      "ANN ranking changed across compact + vacuum")
    // --- LSH near-dup index ---
    val lBase = tmp("graft-complsh-base")
    val lTgt = tmp("graft-complsh-tgt")
    val lCk = tmp("graft-complsh-ck")
    def doc(id: Long, lo: Int) = (id, (lo until lo + 10).map(_.toLong).toArray)
    Seq(doc(0L, 0), doc(1L, 100)).toDF("doc_id", "sh")
      .coalesce(1).write.mode("append").parquet(lBase)
    Seq(doc(2L, 200), doc(3L, 300)).toDF("doc_id", "sh")
      .coalesce(1).write.mode("append").parquet(lBase)
    val ql = Streams.lshIndexSink(
      spark.readStream.schema("doc_id long, sh array<bigint>")
        .option("maxFilesPerTrigger", 1).parquet(lBase),
      lTgt, lCk, "doc_id", "sh")
    try ql.processAllAvailable() finally ql.stop()
    val probe = Seq(doc(100L, 200)).toDF("doc_id", "sh") // duplicates doc 2
    def canonL(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("corpus_id", "batch_id").collect().map(_.toString).toSeq
    val lshBefore = canonL(Streams.nearDupsMaintained(spark, lTgt, probe,
      "doc_id", "sh", threshold = 0.5))
    assert(lshBefore.exists(_.contains("[2,100,1.0]")), s"dup not found: $lshBefore")
    assert(Streams.compactIndex(spark, lTgt, "index", Seq("doc_id"),
      targetFiles = 1).isDefined)
    assert(Streams.vacuumIndex(spark, lTgt, "index").nonEmpty)
    assert(canonL(Streams.nearDupsMaintained(spark, lTgt, probe,
      "doc_id", "sh", threshold = 0.5)) == lshBefore,
      "near-dup answer changed across compact + vacuum")
  }

  test("S6q auto-compaction: compactEvery runs the lifecycle in-line; answers still == one-shot") {
    assume(!rocksdb)
    import spark.implicits._
    val baseDir = tmp("graft-autoc-base")
    val target = tmp("graft-autoc-tgt")
    val ckpt = tmp("graft-autoc-ck")
    (0 until 5).foreach(b =>
      (0 until 20).map(i => ((b * 20 + i).toLong,
        s"join hash w${b * 20 + i}")).toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(baseDir))
    val q = Streams.bm25IndexSink(
      spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1).parquet(baseDir),
      target, ckpt, "doc_id", "text", compactEvery = 2, compactFiles = 2)
    try q.processAllAvailable() finally q.stop()
    // batches 0..4: the hook fired at batch 1 (gen c=1, vacuumed 0..1)
    // and batch 3 (gen c=3 — folded c=1 + batches 2..3; retention keeps
    // both gens, so vacuum frees only <= the older one)
    assert(new java.io.File(s"$target/compact/postings/c=3/_SUCCESS").exists(),
      "auto-compaction did not commit the c=3 generation")
    assert(!new java.io.File(s"$target/postings/batch=0").exists() &&
      !new java.io.File(s"$target/postings/batch=1").exists(),
      "auto-vacuum left the batch dirs the first generation covers")
    assert(new java.io.File(s"$target/postings/batch=4").exists(),
      "the post-compaction tail batch dir must remain")
    val queries = Seq((1, "join"), (1, "w85"), (2, "w3")).toDF("query_id", "term")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "doc_id").collect().map(_.toString).toSeq
    assert(canon(Streams.bm25SearchMaintained(spark, target, queries, 5))
      == canon(graft.ops.TextAnalysis.bm25BatchTopK(
        spark.read.parquet(baseDir), "doc_id", "text", queries, 5)),
      "auto-compacted retrieval diverged from the one-shot pass")
  }

  test("S6r auto-compaction doubles: generations land at batches 0,1,3,7 — O(log B) lifetime rewrites") {
    assume(!rocksdb)
    import spark.implicits._
    val baseDir = tmp("graft-geo-base")
    val target = tmp("graft-geo-tgt")
    val ckpt = tmp("graft-geo-ck")
    (0 until 9).foreach(b =>
      Seq((b.toLong * 7919L, s"p$b")).toDF("uid", "payload")
        .coalesce(1).write.mode("append").parquet(baseDir))
    val q = Streams.skippingIndexSink(
      spark.readStream.schema("uid long, payload string")
        .option("maxFilesPerTrigger", 1).parquet(baseDir),
      target, ckpt, Seq("uid"), fpCols = Seq("uid"), compactEvery = 1)
    try q.processAllAvailable() finally q.stop()
    // trigger: tail >= max(1, covered) fires at batches 0, 1, 3, 7 —
    // the doubling schedule; retention (2) keeps the last two gens
    val (gens, dirs) = Streams.compactionsOf(spark, target, "stats")
    assert(gens == Seq(3L, 7L),
      s"geometric trigger produced generations $gens, expected 3, 7")
    assert(dirs == (4L to 8L),
      s"lifecycle status reports batch dirs $dirs, expected 4..8")
    // vacuum at c=7 freed batches covered by the OLDEST retained gen
    // (c=3): dirs 0..3 gone, 4..8 still present
    (0 to 3).foreach(b => assert(
      !new java.io.File(s"$target/stats/batch=$b").exists(), s"batch $b not vacuumed"))
    (4 to 8).foreach(b => assert(
      new java.io.File(s"$target/stats/batch=$b").exists(), s"batch $b missing"))
    // and the resolved index still equals the full rebuild
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("file").collect().map(_.toSeq.map {
        case b: Array[Byte] => java.util.Arrays.hashCode(b).toString
        case x => String.valueOf(x)
      }.mkString("|")).toSeq
    assert(canon(Streams.latestSkippingIndex(spark, target).get)
      == canon(graft.ops.Layout.statsIndexFingerprint(spark, baseDir,
        Seq("uid"), Seq("uid"))),
      "auto-compacted skipping index diverged from the full rebuild")
  }

  test("S6s torn compaction generation: invisible to readers, repaired by re-run") {
    assume(!rocksdb)
    import spark.implicits._
    val baseDir = tmp("graft-torn-base")
    val target = tmp("graft-torn-tgt")
    val ckpt = tmp("graft-torn-ck")
    (0 until 2).foreach(b =>
      (0 until 20).map(i => ((b * 20 + i).toLong,
        s"join hash w${b * 20 + i}")).toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(baseDir))
    val q = Streams.bm25IndexSink(
      spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1).parquet(baseDir),
      target, ckpt, "doc_id", "text")
    try q.processAllAvailable() finally q.stop()
    val queries = Seq((1, "join"), (2, "w25")).toDF("query_id", "term")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "doc_id").collect().map(_.toString).toSeq
    val before = canon(Streams.bm25SearchMaintained(spark, target, queries, 5))
    assert(Streams.compactIndex(spark, target, "postings", Seq("term"),
      targetFiles = 1) == Some(1L))
    // simulate a crash between the generation's parquet job and its
    // commit: the marker is gone, so the generation must be INVISIBLE
    // (readers fall back to the still-present batch dirs) ...
    assert(new java.io.File(s"$target/compact/postings/c=1/_SUCCESS").delete())
    spark.catalog.refreshByPath(s"$target/compact/postings")
    assert(Streams.compactionsOf(spark, target, "postings")._1.isEmpty,
      "a torn generation must not be a committed one")
    assert(canon(Streams.bm25SearchMaintained(spark, target, queries, 5))
      == before, "a torn generation leaked into the served ranking")
    // ... vacuum must be a no-op (nothing committed covers the dirs) ...
    assert(Streams.vacuumIndex(spark, target, "postings").isEmpty,
      "vacuum freed batch dirs on the authority of a torn generation")
    // ... and re-running compaction overwrites the torn dir cleanly
    assert(Streams.compactIndex(spark, target, "postings", Seq("term"),
      targetFiles = 1) == Some(1L))
    assert(Streams.vacuumIndex(spark, target, "postings") == Seq(0L, 1L))
    assert(canon(Streams.bm25SearchMaintained(spark, target, queries, 5))
      == before, "the repaired generation changed the served ranking")
  }

  test("S6t ±op partials: delta-sized writes; retraction cancels THROUGH a compacted generation") {
    assume(!rocksdb)
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(String, Double, Int)]
    val target = tmp("graft-ivmp-tgt")
    val q = Streams.aggSnapshotSink(in.toDF().toDF("k", "v", "op"),
      target, tmp("graft-ivmp-ck"), Seq("k"), "op", Seq("v"),
      compactEvery = 1)
    try {
      in.addData(("a", 1.0, 1), ("b", 2.0, 1)); q.processAllAvailable()
      in.addData(("c", 3.0, 1)); q.processAllAvailable()
      // write amplification: batch 1 touched ONE key, so its delta layer
      // holds one partial row — never the whole snapshot
      assert(spark.read.parquet(s"$target/delta/batch=1").count() == 1,
        "per-batch delta write is not touched-keys-sized")
      // the geometric hook compacted at batches 0 and 1; vacuum waited
      // for the second generation (first-vacuum grace), then freed the
      // batch dirs the OLDEST retained generation covers
      assert(Streams.compactionsOf(spark, target, "delta")._1 == Seq(0L, 1L))
      assert(!new java.io.File(s"$target/delta/batch=0").exists(),
        "vacuum left the batch dir the oldest generation covers")
      // batch 2 fully retracts key a — whose only row lives INSIDE the
      // c=1 generation: the tail partial must cancel it at the fold
      in.addData(("a", 1.0, -1), ("b", 5.0, 1)); q.processAllAvailable()
      val snap = Streams.latestSnapshot(spark, target).get
        .orderBy("k").as[(String, Long, Long, Long)].collect().toSeq
      val rebuilt = graft.ops.Cdc.aggSnapshot(
          Seq(("b", 2.0), ("b", 5.0), ("c", 3.0)).toDF("k", "v"),
          Seq("k"), Seq("v"))
        .orderBy("k").as[(String, Long, Long, Long)].collect().toSeq
      assert(snap == rebuilt,
        s"partials resolution diverged from rebuild:\n$snap\nvs\n$rebuilt")
      // and MvRewrite serves the same answer off generation ∪ tail —
      // the vanished key must not resurface as a zero row
      val baseDir = tmp("graft-ivmp-base")
      Seq(("b", 2.0), ("b", 5.0), ("c", 3.0)).toDF("k", "v")
        .write.mode("overwrite").parquet(baseDir)
      graft.plans.MvRewrite.registerVersioned(spark, baseDir, Seq("k"),
        Seq("v"), target)
      try {
        val out = spark.read.parquet(baseDir).groupBy("k")
          .agg(count(lit(1)).as("n"), sum("v").as("s"))
        val plan = out.queryExecution.executedPlan.toString
        assert(!plan.contains(baseDir), s"±op partials MV not navigated:\n$plan")
        assert(out.orderBy("k").as[(String, Long, Double)].collect().toSeq ==
          Seq(("b", 2L, 7.0), ("c", 1L, 3.0)))
      } finally graft.plans.MvRewrite.unregister(baseDir)
    } finally q.stop()
  }

  test("S6u append-only partials: compactSnapshot folds to one row per key; vacuum changes nothing") {
    assume(!rocksdb)
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(String, Double, String)]
    val target = tmp("graft-aopc-tgt")
    val q = Streams.aggSnapshotSinkAppendOnly(in.toDF().toDF("k", "v", "u"),
      target, tmp("graft-aopc-ck"), Seq("k"), Seq("v"),
      distinctCols = Seq("u"))
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.orderBy("k").collect().map(_.toSeq.map {
        case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
        case x => String.valueOf(x)
      }.mkString("|")).toSeq
    try {
      in.addData(("a", 5.0, "u1"), ("b", 7.5, "x1")); q.processAllAvailable()
      in.addData(("a", 2.0, "u2"), ("c", 3.0, "y1")); q.processAllAvailable()
      in.addData(("a", 1.25, "u2"), ("b", 4.0, "x2")); q.processAllAvailable()
      val before = canon(Streams.latestSnapshot(spark, target).get)
      // out-of-band compaction folds the three layers per key
      assert(Streams.compactSnapshot(spark, target, targetFiles = 1) == Some(2L))
      val gen = spark.read.parquet(s"$target/compact/delta/c=2")
      assert(gen.groupBy("k").count().filter(col("count") > 1).isEmpty,
        "generation still holds several partials per key — the fold did not run")
      assert(canon(Streams.latestSnapshot(spark, target).get) == before,
        "compaction changed the resolved snapshot")
      // vacuum frees the covered batch dirs; answers cannot move
      assert(Streams.vacuumIndex(spark, target, "delta") == Seq(0L, 1L, 2L))
      assert(canon(Streams.latestSnapshot(spark, target).get) == before,
        "vacuum changed the resolved snapshot")
      // ...and equals the one-shot rebuild bit-for-bit, sketches included
      val all = Seq(("a", 5.0, "u1"), ("b", 7.5, "x1"), ("a", 2.0, "u2"),
        ("c", 3.0, "y1"), ("a", 1.25, "u2"), ("b", 4.0, "x2"))
      assert(canon(Streams.latestSnapshot(spark, target).get) ==
        canon(graft.ops.Cdc.aggSnapshotMinMax(all.toDF("k", "v", "u"),
          Seq("k"), Seq("v"), distinctCols = Seq("u"))),
        "compacted+vacuumed snapshot diverged from the one-shot rebuild")
      // pushdown point read: a key predicate applied BELOW the fold
      // returns exactly the filtered snapshot (generation + any tail),
      // and a non-key predicate (a partials column) is refused — it
      // would drop rows a key's fold still needs
      assert(canon(Streams.latestSnapshotWhere(spark, target,
        col("k").isin("a", "c")).get) ==
        before.filter(s => s.startsWith("a|") || s.startsWith("c|")),
        "pushed key lookup diverged from the filtered snapshot")
      assert(intercept[IllegalArgumentException](
        Streams.latestSnapshotWhere(spark, target, col("cnt") > 0L))
        .getMessage.contains("commute"))
      // a post-vacuum batch lands as a tail layer over the generation;
      // MvRewrite folds generation ∪ tail
      in.addData(("d", 9.0, "z1"), ("a", 1.0, "u3")); q.processAllAvailable()
      val baseDir = tmp("graft-aopc-base")
      (all ++ Seq(("d", 9.0, "z1"), ("a", 1.0, "u3"))).toDF("k", "v", "u")
        .write.mode("overwrite").parquet(baseDir)
      graft.plans.MvRewrite.registerVersioned(spark, baseDir, Seq("k"),
        Seq("v"), target, minMaxMeasures = Seq("v"), distinctCols = Seq("u"))
      try {
        val out = spark.read.parquet(baseDir).groupBy("k")
          .agg(count(lit(1)).as("n"), sum("v").as("s"), min("v").as("mn"),
            max("v").as("mx"), expr("kmv_distinct(u)").as("du"))
        val plan = out.queryExecution.executedPlan.toString
        assert(!plan.contains(baseDir),
          s"post-vacuum partials MV not navigated:\n$plan")
        assert(out.orderBy("k")
          .as[(String, Long, Double, Double, Double, Long)].collect().toSeq ==
          Seq(("a", 4L, 9.25, 1.0, 5.0, 3L), ("b", 2L, 11.5, 4.0, 7.5, 2L),
            ("c", 1L, 3.0, 3.0, 3.0, 1L), ("d", 1L, 9.0, 9.0, 9.0, 1L)))
      } finally graft.plans.MvRewrite.unregister(baseDir)
    } finally q.stop()
  }

  test("S6z snapshotDelete: a forgotten key's groups vanish from every layer — batch dirs AND generations") {
    assume(!rocksdb)
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(String, Double)]
    val target = tmp("graft-snapdel-tgt")
    val q = Streams.aggSnapshotSinkAppendOnly(in.toDF().toDF("k", "v"),
      target, tmp("graft-snapdel-ck"), Seq("k"), Seq("v"))
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.orderBy("k").collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq
    try {
      // key "a" lands in batches 0 and 2; batch 1 is b/c-only
      in.addData(("a", 1.0), ("b", 2.0)); q.processAllAvailable()
      in.addData(("b", 3.0), ("c", 4.0)); q.processAllAvailable()
      in.addData(("a", 5.0), ("c", 6.0)); q.processAllAvailable()
      // fold a generation but keep the batch dirs: the scrub must cover
      // BOTH layer kinds in one run
      assert(Streams.compactSnapshot(spark, target, targetFiles = 1) == Some(2L))
      // only layers containing the key are rewritten: batches 0 and 2
      // plus the generation — batch 1 stays byte-identical
      val b1Files = new java.io.File(s"$target/delta/batch=1").listFiles().toSet
      assert(Streams.snapshotDelete(spark, target, "k", Seq("a")) == 3,
        "expected batches 0,2 + the generation rewritten, batch 1 untouched")
      assert(new java.io.File(s"$target/delta/batch=1").listFiles().toSet == b1Files,
        "a layer without the key was rewritten")
      // the served snapshot == rebuilt without the forgotten groups
      val survivors = Seq(("b", 2.0), ("b", 3.0), ("c", 4.0), ("c", 6.0))
      assert(canon(Streams.latestSnapshot(spark, target).get) ==
        canon(graft.ops.Cdc.aggSnapshotMinMax(survivors.toDF("k", "v"),
          Seq("k"), Seq("v"))),
        "scrubbed snapshot diverged from rebuild-without-the-key")
      // versions kept resolving throughout; an absent key rewrites nothing
      assert(Streams.snapshotVersionsOf(spark, target).nonEmpty)
      assert(Streams.snapshotDelete(spark, target, "k", Seq("zz")) == 0)
      // post-vacuum: the generation is the only layer left — scrub it
      assert(Streams.vacuumIndex(spark, target, "delta") == Seq(0L, 1L, 2L))
      assert(Streams.snapshotDelete(spark, target, "k", Seq("b")) == 1)
      assert(canon(Streams.latestSnapshot(spark, target).get) ==
        canon(graft.ops.Cdc.aggSnapshotMinMax(
          Seq(("c", 4.0), ("c", 6.0)).toDF("k", "v"), Seq("k"), Seq("v"))),
        "generation-only scrub diverged from rebuild")
      // guard rails: non-key column and non-partials target refuse loudly
      val e1 = intercept[IllegalArgumentException](
        Streams.snapshotDelete(spark, target, "v", Seq(1.0)))
      assert(e1.getMessage.contains("not a snapshot key"))
      val e2 = intercept[IllegalStateException](
        Streams.snapshotDelete(spark, tmp("graft-snapdel-nolayout"), "k", Seq("a")))
      assert(e2.getMessage.contains("no _layout marker"))
    } finally q.stop()
  }

  test("S6aa snapshotAsOf: any retained version resolves to exactly what it served; expired travel refuses") {
    assume(!rocksdb)
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(String, Double)]
    val target = tmp("graft-asof-tgt")
    val q = Streams.aggSnapshotSinkAppendOnly(in.toDF().toDF("k", "v"),
      target, tmp("graft-asof-ck"), Seq("k"), Seq("v"))
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.orderBy("k").collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq
    def rebuilt(rows: Seq[(String, Double)]): Seq[String] =
      canon(graft.ops.Cdc.aggSnapshotMinMax(rows.toDF("k", "v"),
        Seq("k"), Seq("v")))
    val b0 = Seq(("a", 1.0), ("b", 2.0))
    val b1 = Seq(("a", 3.0), ("c", 4.0))
    val b2 = Seq(("b", 5.0))
    try {
      in.addData(b0: _*); q.processAllAvailable()
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      assert(Streams.snapshotVersionsOf(spark, target) == Seq(0L, 1L, 2L))
      // each version folds ONLY the layers <= it — bit-identical to the
      // rebuild over exactly the rows that had arrived by then
      assert(canon(Streams.snapshotAsOf(spark, target, 0L)) == rebuilt(b0))
      assert(canon(Streams.snapshotAsOf(spark, target, 1L)) == rebuilt(b0 ++ b1))
      assert(canon(Streams.snapshotAsOf(spark, target, 2L)) ==
        canon(Streams.latestSnapshot(spark, target).get))
      // an uncommitted version refuses, naming the window
      val e = intercept[IllegalArgumentException](
        Streams.snapshotAsOf(spark, target, 99L))
      assert(e.getMessage.contains("not a retained committed version"))
      // after compaction + vacuum, versions >= the oldest generation
      // still travel (vacuum never frees beyond it); older ones refuse
      // rather than serve a fold missing vacuumed layers
      assert(Streams.compactSnapshot(spark, target, targetFiles = 1) == Some(2L))
      assert(Streams.vacuumIndex(spark, target, "delta") == Seq(0L, 1L, 2L))
      assert(canon(Streams.snapshotAsOf(spark, target, 2L)) ==
        rebuilt(b0 ++ b1 ++ b2))
      val e2 = intercept[IllegalArgumentException](
        Streams.snapshotAsOf(spark, target, 0L))
      assert(e2.getMessage.contains("predates the oldest retained compaction"))
    } finally q.stop()
  }

  test("S6i freshnessOf: committed versions expose batchId + source offsets for lag gating") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // the ±op (retraction) sink has NO file-coverage manifest — fresh
    // composition is unsound under retractions — but its staleness is
    // knowable: every committed version records the batch id and the
    // checkpoint's offsets entry, readable off the target dir alone
    val in = MemoryStream[(String, Double, Int)]
    val target = tmp("graft-freshness-tgt")
    val q = Streams.aggSnapshotSink(in.toDF().toDF("k", "v", "op"), target,
      tmp("graft-freshness-ck"), Seq("k"), "op", Seq("v"))
    try {
      assert(Streams.freshnessOf(spark, target).isEmpty,
        "no committed version must mean no freshness record")
      in.addData(("a", 1.0, 1)); q.processAllAvailable()
      val f0 = Streams.freshnessOf(spark, target).get
      assert(f0.version == 0L && f0.offsetsJson.nonEmpty)
      in.addData(("a", 2.0, 1)); q.processAllAvailable()
      val f1 = Streams.freshnessOf(spark, target).get
      assert(f1.version > f0.version, s"freshness did not advance: $f0 -> $f1")
      assert(f1.offsetsJson != f0.offsetsJson,
        "offsets record must advance with the stream")
      // parsed form: a MemoryStream offset is a bare ordinal — surfaced
      // as the number itself, one entry per source
      val lag = Streams.freshnessLagOf(spark, target).get
      assert(lag.version == f1.version && lag.sourceLogOffsets.size == 1 &&
        lag.sourceLogOffsets.head.exists(_ >= 1L), s"unexpected parsed lag: $lag")
      assert(lag.pendingFiles.isEmpty, "no basePath given => no pending count")
    } finally q.stop()
  }

  test("S6i-lag freshnessLagOf: logOffset + pending-file count against a known backlog") {
    import spark.implicits._
    // the append-only sink's _files manifest makes "how far behind" a
    // COUNT: land files while the stream is stopped and the parsed lag
    // must name exactly how many the latest version has not covered
    val baseDir = tmp("graft-lag-base")
    val target = tmp("graft-lag-tgt")
    val ckpt = tmp("graft-lag-ck")
    def land(lo: Int, hi: Int, parts: Int): Unit =
      (lo until hi).map(i => (s"k${i % 4}", i.toDouble)).toDF("k", "v")
        .repartition(parts).write.mode("append").parquet(baseDir)
    land(0, 100, 2)
    val q = Streams.aggSnapshotSinkAppendOnly(
      spark.readStream.schema("k string, v double").parquet(baseDir),
      target, ckpt, Seq("k"), Seq("v"))
    try q.processAllAvailable() finally q.stop()
    val caughtUp = Streams.freshnessLagOf(spark, target, Some(baseDir)).get
    assert(caughtUp.pendingFiles.contains(0L),
      s"caught-up stream must report zero pending files: $caughtUp")
    assert(caughtUp.sourceLogOffsets == Seq(Some(0L)),
      s"file source logOffset expected 0 after one batch: $caughtUp")
    // backlog: three files land with the stream down — the version
    // stands still, so the gate sees exactly 3 un-ingested files
    land(100, 130, 3)
    val behind = Streams.freshnessLagOf(spark, target, Some(baseDir)).get
    assert(behind.version == caughtUp.version &&
      behind.pendingFiles.contains(3L),
      s"expected 3 pending files at the stale version: $behind")
  }

  test("S6g streaming IVF stats: streamed cell snapshot == one-shot; drift readable off it") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // frozen centroid state trained over the static corpus; the STREAM
    // then delivers the same vectors in two microbatches — the
    // maintained per-cell stats must equal the one-shot fold (exact
    // associative integer sums), and the drift report reads off the
    // committed version
    val emb = graft.sources.Tables(spark, TestSession.sf0001).embeddings
      .select("vec_id", "embedding")
    val (s, n) = graft.ops.Similarity.trainCentroidsQuant(emb,
      nCells = 8, iters = 2, dim = 64)
    val rows = emb.as[(Long, Array[Float])].collect()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val in = MemoryStream[(Long, Array[Float])]
    val target = tmp("graft-ivfstats-tgt")
    val q = Streams.ivfStatsSink(in.toDF().toDF("vec_id", "embedding"),
      target, tmp("graft-ivfstats-ck"), s, n)
    try {
      in.addData(b1.toIndexedSeq); q.processAllAvailable()
      in.addData(b2.toIndexedSeq); q.processAllAvailable()
      val streamed = Streams.latestSnapshot(spark, target).get
        .orderBy("cell_id").as[(Long, Long, Array[Long])].collect().toSeq
      val oneShot = graft.ops.Similarity.ivfCellStats(emb, s, n)
        .orderBy("cell_id").as[(Long, Long, Array[Long])].collect().toSeq
      assert(streamed.map(t => (t._1, t._2)) == oneShot.map(t => (t._1, t._2)))
      streamed.zip(oneShot).foreach { case ((c, _, a), (_, _, b)) =>
        assert(a.toSeq == b.toSeq, s"streamed cell $c stats diverged from one-shot")
      }
      // the full corpus matches the training assignment exactly, so
      // drift off the streamed snapshot is ~0 everywhere... it is NOT
      // zero (trained sums are the PREVIOUS Lloyd round's fold), but it
      // must be small and identical to the batch-side report
      val fromStream = graft.ops.Similarity.ivfDriftReport(
          Streams.latestSnapshot(spark, target).get, s, n, threshold = 0.5)
        .orderBy("cell_id").as[(Long, Long, Double, Boolean)].collect().toSeq
      val fromBatch = graft.ops.Similarity.ivfDriftReport(
          graft.ops.Similarity.ivfCellStats(emb, s, n), s, n, threshold = 0.5)
        .orderBy("cell_id").as[(Long, Long, Double, Boolean)].collect().toSeq
      assert(fromStream == fromBatch,
        s"drift off the streamed snapshot diverged:\n$fromStream\nvs\n$fromBatch")
    } finally q.stop()
  }

  test("observe metrics surface per microbatch") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[Int]
    val observed = Streams.withMetrics(in.toDF(), "m",
      Seq(count(lit(1)).as("rows"), sum("value").as("total")))
    val q = observed.writeStream.format("noop")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(1, 2, 3); q.processAllAvailable()
      val m = q.recentProgress.flatMap(p => Option(p.observedMetrics.get("m"))).last
      assert(m.getAs[Long]("rows") == 3L && m.getAs[Long]("total") == 6L)
    } finally q.stop()
  }

  test("W1+W7 file-monitor source, checkpoint stop/restart (savepoint contract)") {
    import spark.implicits._
    val srcDir = tmp("graft-stream-src")
    val outDir = tmp("graft-stream-out")
    val ckpt = tmp("graft-stream-ckpt")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$srcDir/f1.txt"), "a\nb")
    val flow1 = api.Flow.fromTextStream(spark, srcDir)
    val q1 = Streams.toParquetSink(flow1.toDF, outDir, ckpt)
    q1.awaitTermination(60000); // AvailableNow terminates when caught up
    assert(spark.read.parquet(outDir).count() == 2)
    // "savepoint restore": new file, restart from same checkpoint
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$srcDir/f2.txt"), "c")
    val q2 = Streams.toParquetSink(api.Flow.fromTextStream(spark, srcDir).toDF, outDir, ckpt)
    q2.awaitTermination(60000)
    val all = spark.read.parquet(outDir).as[String].collect().sorted.toSeq
    assert(all == Seq("a", "b", "c"), s"restart reprocessed or lost rows: $all")
  }
  test("stream-static enrichment picks up a dimension rewrite between triggers") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val dimDir = tmp("graft-dim")
    val ckpt = tmp("graft-dim-ckpt")
    Seq((1L, "bronze"), (2L, "silver")).toDF("user_id", "tier")
      .write.mode("overwrite").parquet(dimDir)
    val in = MemoryStream[Long]
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long, String)]()
    val q = Streams.enrichWithDim(
      in.toDF().toDF("user_id"),
      () => spark.read.parquet(dimDir),
      Seq("user_id"), ckpt) { (batch, id) =>
      batch.select("user_id", "tier").collect()
        .foreach(r => out.synchronized { out += ((id, r.getLong(0), r.getString(1))) })
    }
    try {
      in.addData(1L, 2L); q.processAllAvailable()
      // SCD refresh: user 1 promoted, user 3 appears
      Seq((1L, "gold"), (2L, "silver"), (3L, "bronze")).toDF("user_id", "tier")
        .write.mode("overwrite").parquet(dimDir)
      in.addData(1L, 3L); q.processAllAvailable()
      val byBatch = out.groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
      assert(byBatch(0L) == Set((1L, "bronze"), (2L, "silver")))
      assert(byBatch(1L) == Set((1L, "gold"), (3L, "bronze")),
        s"batch 1 saw a stale dimension: ${byBatch(1L)}")
    } finally q.stop()
  }

  test("measure-set evolution: a live snapshot sink ADDS a measure — fold " +
      "== rebuild over the mixed history; MvRewrite bails until the " +
      "measure is served, then navigates") {
    assume(!rocksdb)
    import spark.implicits._
    val baseDir = tmp("graft-evo-base")
    val target = tmp("graft-evo-tgt")
    val ck = tmp("graft-evo-ck")
    // merged parquet schemas everywhere: the base genuinely EVOLVED, so
    // every read of it (registration included) must see the union shape
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      Seq(("a", 1.0), ("b", 2.0)).toDF("k", "v")
        .coalesce(1).write.mode("append").parquet(baseDir)
      val q1 = Streams.aggSnapshotSinkAppendOnly(
        spark.readStream.schema("k string, v double").parquet(baseDir),
        target, ck, Seq("k"), Seq("v"))
      try q1.processAllAvailable() finally q1.stop()
      // the base gains nullable w (old rows are null there); files land
      // but the sink has not indexed them yet
      Seq(("a", 3.0, 10.0), ("c", 4.0, 20.0)).toDF("k", "v", "w")
        .coalesce(1).write.mode("append").parquet(baseDir)
      graft.plans.MvRewrite.registerVersioned(spark, baseDir, Seq("k"),
        Seq("v", "w"), target)
      def wQuery = spark.read.parquet(baseDir).groupBy("k")
        .agg(sum("w").as("s"))
      // version 0's layers carry no w columns: the rewrite must BAIL to
      // the direct scan — never a fold that silently misses the measure
      val plan0 = wQuery.queryExecution.executedPlan.toString
      assert(plan0.contains(baseDir) && !plan0.contains(target),
        s"un-served measure must not navigate:\n$plan0")
      assert(graft.plans.MvRewrite.recentBails.nonEmpty,
        "the bail must be recorded, not silent")
      // the sink RESUMES from the same checkpoint with the widened
      // schema and measure set — the layout marker (keys/scale) is
      // unchanged, so this is the supported ADD evolution
      val q2 = Streams.aggSnapshotSinkAppendOnly(
        spark.readStream.schema("k string, v double, w double")
          .parquet(baseDir),
        target, ck, Seq("k"), Seq("v", "w"))
      try q2.processAllAvailable() finally q2.stop()
      def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = {
        val cols = df.columns.sorted.toIndexedSeq
        df.select(cols.map(col): _*).orderBy("k")
          .collect().map(_.toString).toSeq
      }
      val rebuilt = canon(graft.ops.Cdc.aggSnapshotMinMax(
        spark.read.parquet(baseDir), Seq("k"), Seq("v", "w")))
      assert(canon(Streams.latestSnapshot(spark, target).get) == rebuilt,
        "mixed-history fold diverged from the one-shot rebuild")
      // the measure is served now: the SAME query navigates and answers
      // exactly (b has no w rows anywhere -> null, like the direct scan)
      val plan1 = wQuery.queryExecution.executedPlan.toString
      assert(plan1.contains(s"$target/delta") && !plan1.contains(baseDir),
        s"served measure did not navigate:\n$plan1")
      assert(wQuery.orderBy("k").collect().map(_.toString).toSeq ==
        Seq("[a,10.0]", "[b,null]", "[c,20.0]"))
      // compaction folds the widened shape; vacuum changes nothing
      assert(Streams.compactSnapshot(spark, target, targetFiles = 1,
        minBatches = 1).isDefined)
      assert(canon(Streams.latestSnapshot(spark, target).get) == rebuilt,
        "compaction changed the evolved fold")
      assert(Streams.vacuumIndex(spark, target, "delta").nonEmpty)
      assert(canon(Streams.latestSnapshot(spark, target).get) == rebuilt,
        "vacuum changed the evolved fold")
    } finally {
      graft.plans.MvRewrite.unregister(baseDir)
      spark.conf.unset("spark.sql.parquet.mergeSchema")
    }
  }

  test("mergeSink changelog: key-pushdown pre-image read equals the " +
      "unpruned semi-join derivation") {
    assume(!rocksdb)
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // same change history through both derivations: the IN-list
    // pre-filter over-approximates touched TUPLES but is key-group
    // stable, and the semi-join restores exactness — the feeds must be
    // identical row-for-row
    def run(pushdown: Int, tag: String): Seq[String] = {
      val in = MemoryStream[(Long, String, Long, Boolean)]
      val tgt = tmp(s"graft-cdfpd-$tag")
      val q = Streams.mergeSink(in.toDF().toDF("k", "v", "seq", "del"), tgt,
        tmp(s"graft-cdfpd-$tag-ck"), Seq("k"), "seq", "del",
        changelog = true, changelogKeyPushdown = pushdown)
      try {
        in.addData((1L, "a1", 1L, false), (2L, "b1", 1L, false),
          (3L, "c1", 1L, false))
        q.processAllAvailable()
        in.addData((2L, "b2", 2L, false), (3L, "c2", 2L, true))
        q.processAllAvailable()
        in.addData((1L, "a3", 3L, false), (3L, "c3", 3L, false))
        q.processAllAvailable()
      } finally q.stop()
      Streams.changelogOf(spark, tgt).orderBy("batch", "k", "op")
        .collect().map(_.toString).toSeq
    }
    val pushed = run(1024, "on")
    val unpruned = run(0, "off")
    assert(pushed == unpruned,
      s"pushdown changed the derived feed:\n$pushed\nvs\n$unpruned")
    assert(pushed.exists(_.contains("-1")), "feed must carry retractions")
  }

  test("measure-set evolution on the ±op (retraction) sink: an added " +
      "measure folds == rebuild, and retractions of pre-evolution rows " +
      "carry null there") {
    assume(!rocksdb)
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val baseDir = tmp("graft-evoret-base")
    val target = tmp("graft-evoret-tgt")
    val ck = tmp("graft-evoret-ck")
    // phase 1: (op, k, v) only — file streams so the SAME checkpoint
    // resumes over the widened schema (a fresh MemoryStream would not
    // re-source a checkpointed query)
    Seq((1, "a", 1.0), (1, "b", 2.0), (1, "b", 3.0))
      .toDF("op", "k", "v")
      .coalesce(1).write.mode("append").parquet(baseDir)
    val q1 = Streams.aggSnapshotSink(
      spark.readStream.schema("op int, k string, v double").parquet(baseDir),
      target, ck, Seq("k"), "op", Seq("v"))
    try q1.processAllAvailable() finally q1.stop()
    // phase 2: measure w added; the stream retracts a PRE-evolution row
    // (b, 3.0) — its w is null, exactly as it was inserted — and adds
    // evolved rows
    Seq((-1, "b", 3.0, None), (1, "a", 4.0, Some(10.0)),
      (1, "c", 5.0, Some(20.0)))
      .toDF("op", "k", "v", "w")
      .coalesce(1).write.mode("append").parquet(baseDir)
    val q2 = Streams.aggSnapshotSink(
      spark.readStream.schema("op int, k string, v double, w double")
        .parquet(baseDir),
      target, ck, Seq("k"), "op", Seq("v", "w"))
    try q2.processAllAvailable() finally q2.stop()
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      val cols = df.columns.sorted.toIndexedSeq
      df.select(cols.map(col): _*).orderBy("k")
        .collect().map(_.toString).toSeq
    }
    // rebuild: the surviving rows over the EVOLVED shape (old rows null
    // in w) — the fold over mixed-layer history must match exactly
    val survivors = Seq(("a", 1.0, None), ("b", 2.0, None),
      ("a", 4.0, Some(10.0)), ("c", 5.0, Some(20.0)))
      .toDF("k", "v", "w")
    assert(canon(Streams.latestSnapshot(spark, target).get) ==
      canon(graft.ops.Cdc.aggSnapshot(survivors, Seq("k"), Seq("v", "w"))),
      "retraction-sink evolved fold diverged from rebuild")
  }

  test("mergeSink compactMaxTail: the raw tail stays bounded (folds fire " +
      "at the cap instead of the geometric interval) and answers are " +
      "unchanged") {
    assume(!rocksdb)
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val tgt = tmp("graft-maxtail-tgt")
    val in = MemoryStream[(Long, String, Long, Boolean)]
    val q = Streams.mergeSink(in.toDF().toDF("k", "v", "seq", "del"), tgt,
      tmp("graft-maxtail-ck"), Seq("k"), "seq", "del",
      compactEvery = 2, compactMaxTail = 2)
    def rawDirs: Int = Option(new java.io.File(s"$tgt/rows").listFiles)
      .map(_.count(_.getName.startsWith("batch="))).getOrElse(0)
    try {
      (0 until 12).foreach { i =>
        in.addData((i.toLong % 5, s"v$i", i.toLong, false))
        q.processAllAvailable()
        // pure geometric would let the tail grow to |covered| (up to
        // 6+ dirs by batch 11); the cap folds every 2 batches and
        // vacuum (from the 2nd generation on) frees covered dirs
        assert(rawDirs <= 4, s"tail exceeded the cap at batch $i: $rawDirs")
      }
    } finally q.stop()
    val gens = Option(new java.io.File(s"$tgt/compact/rows").listFiles)
      .map(_.count(f => f.getName.startsWith("c=") &&
        new java.io.File(f, "_SUCCESS").exists)).getOrElse(0)
    assert(gens == 2, s"retained generations: $gens") // retainCompactions
    // latest-wins per key unchanged by the aggressive fold cadence
    val served = Streams.latestTable(spark, tgt).get
      .orderBy("k").collect().map(_.toString).toSeq
    assert(served == Seq("[0,v10]", "[1,v11]", "[2,v7]", "[3,v8]", "[4,v9]"),
      s"served: $served")
  }

  test("compactMaxTail on the snapshot and index sinks: the cap bounds " +
      "every sink's raw tail and answers equal the rebuild") {
    assume(!rocksdb)
    import spark.implicits._
    implicit val sql = spark.sqlContext
    def rawDirs(tgt: String, sub: String): Int =
      Option(new java.io.File(s"$tgt/$sub").listFiles)
        .map(_.count(_.getName.startsWith("batch="))).getOrElse(0)
    // append-only agg snapshot (delta/): capped folds, fold == rebuild
    val snapTgt = tmp("graft-maxtail-snap")
    val snapIn = MemoryStream[(String, Double)]
    val allRows = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    val sq = Streams.aggSnapshotSinkAppendOnly(
      snapIn.toDF().toDF("k", "v"), snapTgt, tmp("graft-maxtail-snapck"),
      Seq("k"), Seq("v"), compactEvery = 2, compactMaxTail = 2)
    try {
      (0 until 12).foreach { i =>
        val row = (s"k${i % 5}", i.toDouble)
        allRows += row; snapIn.addData(row)
        sq.processAllAvailable()
        assert(rawDirs(snapTgt, "delta") <= 4,
          s"snapshot tail exceeded the cap at batch $i")
      }
    } finally sq.stop()
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      val cols = df.columns.sorted.toIndexedSeq
      df.select(cols.map(col): _*).orderBy(cols.map(col): _*)
        .collect().map(_.toString).toSeq
    }
    assert(canon(Streams.latestSnapshot(spark, snapTgt).get) ==
      canon(graft.ops.Cdc.aggSnapshotMinMax(allRows.toSeq.toDF("k", "v"),
        Seq("k"), Seq("v"))),
      "capped-fold snapshot diverged from the one-shot rebuild")
    // LSH index (index/): capped folds, maintained probe == one-shot
    val lshTgt = tmp("graft-maxtail-lsh")
    val lshIn = MemoryStream[(Long, Seq[String])]
    val allDocs = scala.collection.mutable.ArrayBuffer[(Long, Seq[String])]()
    val lq = Streams.lshIndexSink(
      lshIn.toDF().toDF("doc_id", "shingles"), lshTgt,
      tmp("graft-maxtail-lshck"), "doc_id", "shingles",
      compactEvery = 2, compactMaxTail = 2)
    try {
      (0 until 10).foreach { i =>
        val doc = (i.toLong,
          Seq(s"sh${i % 3}a", s"sh${i % 3}b", s"sh${i % 3}c", s"shared$i"))
        allDocs += doc; lshIn.addData(doc)
        lq.processAllAvailable()
        assert(rawDirs(lshTgt, "index") <= 4,
          s"LSH tail exceeded the cap at batch $i")
      }
    } finally lq.stop()
    val probe = Seq((100L, Seq("sh1a", "sh1b", "sh1c", "nope")))
      .toDF("doc_id", "shingles")
    val viaMaintained = canon(Streams.nearDupsMaintained(spark, lshTgt,
      probe, "doc_id", "shingles", 0.5))
    val viaOneShot = canon(graft.ops.Dedup.nearDupsAgainstIndex(
      graft.ops.Dedup.buildLshIndex(allDocs.toSeq.toDF("doc_id", "shingles"),
        "doc_id", "shingles").select("doc_id", "sig", "shset"),
      probe, "doc_id", "shingles", 0.5))
    assert(viaMaintained == viaOneShot && viaMaintained.nonEmpty,
      s"capped-fold LSH probe diverged: $viaMaintained vs $viaOneShot")
  }

  test("maintainArtifact maxTail: the scheduled trigger fires only when " +
      "the tail reaches the capped geometric interval") {
    assume(!rocksdb)
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val tgt = tmp("graft-mtail-sched")
    val in = MemoryStream[(String, Double)]
    val q = Streams.aggSnapshotSinkAppendOnly(
      in.toDF().toDF("k", "v"), tgt, tmp("graft-mtail-schedck"),
      Seq("k"), Seq("v")) // compactEvery = 0: maintenance is scheduled
    try {
      (0 until 5).foreach { i =>
        in.addData((s"k$i", i.toDouble)); q.processAllAvailable()
      }
      // no generation yet: interval = minBatches floor — fires, and the
      // generation now covers 5 batches
      val first = Streams.maintainArtifact(spark, tgt, minBatches = 1,
        maxTail = 4)
      assert(first.exists(r => r._1 == "delta" && r._2.contains(4L)),
        s"first scheduled fold did not fire: $first")
      (5 until 7).foreach { i =>
        in.addData((s"k$i", i.toDouble)); q.processAllAvailable()
      }
      // tail = 2: an UNGATED call (maxTail = 0) would fold at the
      // minBatches = 1 floor every time — the geometric gate holds off
      // until min(cap = 4, covered = 5) = 4
      val early = Streams.maintainArtifact(spark, tgt, minBatches = 1,
        maxTail = 4)
      assert(early.exists(r => r._1 == "delta" && r._2.isEmpty),
        s"scheduled fold fired below the capped geometric interval: $early")
      (7 until 9).foreach { i =>
        in.addData((s"k$i", i.toDouble)); q.processAllAvailable()
      }
      // tail = 4 reaches the cap (pure geometric would wait for 5)
      val due = Streams.maintainArtifact(spark, tgt, minBatches = 1,
        maxTail = 4)
      assert(due.exists(r => r._1 == "delta" && r._2.contains(8L)),
        s"scheduled fold did not fire at the cap: $due")
    } finally q.stop()
    assert(Streams.latestSnapshot(spark, tgt).get.count() == 9)
  }

  test("maintainArtifact DERIVED default: maxTail = -1 resolves to " +
      "8 x minBatches — the sinks' own bounded-read contract — so " +
      "in-line and scheduled maintenance share ONE trigger shape; a " +
      "cap below the floor refuses") {
    assume(!rocksdb)
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val tgt = tmp("graft-mtail-dflt")
    val in = MemoryStream[(String, Double)]
    val q = Streams.aggSnapshotSinkAppendOnly(
      in.toDF().toDF("k", "v"), tgt, tmp("graft-mtail-dfltck"),
      Seq("k"), Seq("v"))
    try {
      def land(lo: Int, hi: Int): Unit = (lo until hi).foreach { i =>
        in.addData((s"k$i", i.toDouble)); q.processAllAvailable()
      }
      land(0, 5)
      // default call (maxTail = -1): no generation yet -> the
      // minBatches floor fires, covering 5
      val first = Streams.maintainArtifact(spark, tgt, minBatches = 1)
      assert(first.exists(r => r._1 == "delta" && r._2.contains(4L)),
        s"derived-default first fold did not fire: $first")
      land(5, 7)
      // tail = 2 < min(derived cap 8, covered 5): geometric hold-off —
      // the old default (0) would have folded unconditionally here
      val early = Streams.maintainArtifact(spark, tgt, minBatches = 1)
      assert(early.exists(r => r._1 == "delta" && r._2.isEmpty),
        s"derived default must hold off below the geometric interval: $early")
      land(7, 10)
      // tail = 5 = covered: due exactly where the in-line hook fires
      val due = Streams.maintainArtifact(spark, tgt, minBatches = 1)
      assert(due.exists(r => r._1 == "delta" && r._2.contains(9L)),
        s"derived default did not fire at the geometric interval: $due")
      assert(Streams.latestSnapshot(spark, tgt).get.count() == 10)
      // an explicit cap below the minBatches floor refuses loudly —
      // it would silently override the configured fold floor
      val ex = intercept[IllegalArgumentException](
        Streams.maintainArtifact(spark, tgt, minBatches = 4, maxTail = 2))
      assert(ex.getMessage.contains("compactMaxTail"), ex.getMessage)
    } finally q.stop()
  }

  test("mergeSink changelog: ADD-column evolution derives retractions over " +
      "a COMPACTED target whose layers lack the new column") {
    assume(!rocksdb)
    import spark.implicits._
    val baseDir = tmp("graft-cdfevo-base")
    val tgt = tmp("graft-cdfevo-tgt")
    val ck = tmp("graft-cdfevo-ck")
    Seq((1L, "a1", 1L, false), (2L, "b1", 1L, false))
      .toDF("k", "v", "seq", "del")
      .coalesce(1).write.mode("append").parquet(baseDir)
    val q1 = Streams.mergeSink(
      spark.readStream.schema("k long, v string, seq long, del boolean")
        .parquet(baseDir),
      tgt, ck, Seq("k"), "seq", "del", changelog = true)
    try q1.processAllAvailable() finally q1.stop()
    // fold the only layer into a generation: the pre-image read now
    // comes off compact/rows, whose schema will NOT have the column
    // the evolved batch adds
    assert(Streams.compactTable(spark, tgt, targetFiles = 1,
      minBatches = 1).isDefined)
    Seq((1L, "a2", 10.5, 2L, false)).toDF("k", "v", "w", "seq", "del")
      .coalesce(1).write.mode("append").parquet(baseDir)
    val q2 = Streams.mergeSink(
      spark.readStream
        .schema("k long, v string, w double, seq long, del boolean")
        .parquet(baseDir),
      tgt, ck, Seq("k"), "seq", "del", changelog = true)
    try q2.processAllAvailable() finally q2.stop()
    val feed = Streams.changelogOf(spark, tgt)
      .orderBy("batch", "k", "op").collect().map(_.toString).toSeq
    // the retraction carries the OLD values and null for the added
    // column (the pre-image had no value); the assertion carries the
    // new ones — and the stream survived the evolved trigger
    assert(feed.exists(s => s.contains("a1") && s.contains("-1") &&
      s.contains("null")), s"missing evolved retraction: $feed")
    assert(feed.exists(s => s.contains("a2") && s.contains("10.5")),
      s"missing evolved assertion: $feed")
    // the served table reflects the update with the new column
    val served = Streams.latestTable(spark, tgt).get
      .orderBy("k").collect().map(_.toString).toSeq
    assert(served.exists(s => s.contains("a2") && s.contains("10.5")) &&
      served.exists(_.contains("b1")), s"served table wrong: $served")
  }

  test("bm25IndexDelete (maintained): forgotten docs rank nowhere; " +
      "df/stats algebra equals a rebuilt index — batch dirs AND generations") {
    assume(!rocksdb)
    import spark.implicits._
    val baseDir = tmp("graft-bmdel-base")
    val target = tmp("graft-bmdel-tgt")
    val ckpt = tmp("graft-bmdel-ck")
    def land(lo: Int, hi: Int): Unit =
      (lo until hi).map(i => (i.toLong,
        s"join hash w$i " + Seq.fill(i % 5)("filler").mkString(" ")))
        .toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(baseDir)
    land(0, 50)
    val q = Streams.bm25IndexSink(
      spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1).parquet(baseDir),
      target, ckpt, "doc_id", "text")
    try {
      q.processAllAvailable()
      land(50, 100)
      q.processAllAvailable()
    } finally q.stop()
    val queries = Seq((1, "join"), (1, "hash"), (2, "w7"), (2, "w63"),
      (3, "filler")).toDF("query_id", "term")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "doc_id").collect().map(_.toString).toSeq
    def rebuilt(excluded: Seq[Long]) = canon(graft.ops.TextAnalysis
      .bm25BatchTopK(spark.read.parquet(baseDir)
        .filter(!col("doc_id").isin(excluded: _*)),
        "doc_id", "text", queries, 5))
    assert(canon(Streams.bm25SearchMaintained(spark, target, queries, 5))
      == rebuilt(Nil), "pre-delete sanity")
    // forget docs 7 (batch 0) and 63 (batch 1): postings scrubbed in
    // both raw layers, df partials decremented per batch, BOTH retained
    // versions' stats adjusted — 2 + 2 + 2 layers
    assert(Streams.bm25IndexDelete(spark, target, Seq(7L, 63L)) == 6)
    val after = canon(Streams.bm25SearchMaintained(spark, target, queries, 5))
    assert(after == rebuilt(Seq(7L, 63L)),
      "post-delete ranking diverged from rebuild-without-the-docs " +
        "(df/stats algebra broken?)")
    // fold postings + df into generations, vacuum the raw dirs, and
    // forget a doc FROM the generations: postings gen + df gen + the
    // one version whose stats cover its batch
    assert(Streams.compactIndex(spark, target, "postings", Seq("term"),
      targetFiles = 1).isDefined)
    assert(Streams.compactIndex(spark, target, "df", Seq("term"),
      targetFiles = 1).isDefined)
    assert(Streams.vacuumIndex(spark, target, "postings").nonEmpty)
    assert(Streams.vacuumIndex(spark, target, "df").nonEmpty)
    assert(Streams.bm25IndexDelete(spark, target, Seq(80L)) == 3)
    assert(canon(Streams.bm25SearchMaintained(spark, target, queries, 5))
      == rebuilt(Seq(7L, 63L, 80L)),
      "generation-scrub ranking diverged from rebuild")
    // absent ids rewrite nothing
    assert(Streams.bm25IndexDelete(spark, target, Seq(424242L)) == 0)
  }

  test("annIndexDelete (maintained): forgotten vectors surface nowhere — " +
      "batch dirs AND generations; assignments equal a rebuilt encode") {
    assume(!rocksdb)
    import spark.implicits._
    import graft.ops.Similarity
    val baseDir = tmp("graft-anndel-base")
    val target = tmp("graft-anndel-tgt")
    val ckpt = tmp("graft-anndel-ck")
    val cells = tmp("graft-anndel-cells") + "/c"
    val books = tmp("graft-anndel-books") + "/b"
    def vec(i: Int): Array[Float] =
      Array.tabulate(8)(j => (((i * 31 + j * 17) % 101) - 50).toFloat / 16f)
    def land(rows: Seq[(Long, Array[Float])]): Unit =
      rows.toDF("vec_id", "embedding")
        .coalesce(1).write.mode("append").parquet(baseDir)
    land((0 until 60).map(i => (i.toLong, vec(i))))
    val idx0 = Similarity.ivfPqBuild(spark.read.parquet(baseDir),
      nCells = 4, ivfIters = 2, m = 2, codes = 4, pqIters = 1, dim = 8)
    Similarity.saveIvfCentroids(spark, idx0.cellSums, idx0.cellCounts, cells)
    Similarity.savePqCodebooks(spark, idx0.pqSums, idx0.pqCounts, books)
    val q = Streams.ivfPqIndexSink(
      spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1).parquet(baseDir),
      target, ckpt, cells, books, dim = 8)
    try {
      q.processAllAvailable()
      land((60 until 90).map(i => (i.toLong, vec(i))))
      q.processAllAvailable()
    } finally q.stop()
    val base = spark.read.parquet(baseDir)
    val queries = base.filter($"vec_id" < 3)
    // victims in both batch layers
    assert(Streams.annIndexDelete(spark, target, Seq(5L, 70L)) == 2)
    val assigns = spark.read.parquet(s"$target/assign")
      .select("neighbor_id", "cell_id", "codes")
      .collect().map(_.toString).sorted.toSeq
    val rebuiltIdx = Similarity.ivfPqEncode(
      base.filter(!$"vec_id".isin(5L, 70L)), idx0.cellSums, idx0.cellCounts,
      idx0.pqSums, idx0.pqCounts, dim = 8)
    assert(assigns == rebuiltIdx.collect().map(_.toString).sorted.toSeq,
      "scrubbed assignments diverged from the rebuilt-without-them encode")
    assert(Streams.ivfPqSearchMaintained(spark, target, cells, books,
      queries, base, topK = 5, nProbe = 4, dim = 8)
      .filter($"neighbor_id".isin(5L, 70L)).isEmpty,
      "forgotten vectors still surface in the maintained search")
    // generation half
    assert(Streams.compactIndex(spark, target, "assign", Seq("cell_id"),
      targetFiles = 1).isDefined)
    assert(Streams.vacuumIndex(spark, target, "assign").nonEmpty)
    assert(Streams.annIndexDelete(spark, target, Seq(12L)) == 1)
    assert(Streams.ivfPqSearchMaintained(spark, target, cells, books,
      queries, base, topK = 5, nProbe = 4, dim = 8)
      .filter($"neighbor_id" === 12L).isEmpty,
      "forgotten vector still surfaces after the generation scrub")
    assert(Streams.annIndexDelete(spark, target, Seq(424242L)) == 0)
  }

  test("forget: one call drives every artifact kind by its on-disk " +
      "self-description; validation precedes any mutation") {
    assume(!rocksdb)
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // REAL sinks for the marker-classified kinds (the marker is the
    // dispatch signal under test)
    val morTgt = tmp("graft-forget-mor")
    val snapTgt = tmp("graft-forget-snap")
    val morIn = MemoryStream[(Long, String, Long, Boolean)]
    val mq = Streams.mergeSink(morIn.toDF().toDF("doc_id", "v", "seq", "del"),
      morTgt, tmp("graft-forget-morck"), Seq("doc_id"), "seq", "del")
    val snapIn = MemoryStream[(Long, Double)]
    val sq = Streams.aggSnapshotSinkAppendOnly(
      snapIn.toDF().toDF("doc_id", "v"), snapTgt,
      tmp("graft-forget-snapck"), Seq("doc_id"), Seq("v"))
    try {
      morIn.addData((7L, "seven", 1L, false), (8L, "eight", 1L, false))
      mq.processAllAvailable()
      snapIn.addData((7L, 1.0), (8L, 2.0))
      sq.processAllAvailable()
    } finally { mq.stop(); sq.stop() }
    // fabricated batch-dir layouts for the layer-classified kinds (the
    // LAYERS are the dispatch signal; the full sink paths have their
    // own delete specs)
    val lshTgt = tmp("graft-forget-lsh")
    val annTgt = tmp("graft-forget-ann")
    val bmTgt = tmp("graft-forget-bm")
    Seq((7L, 1L), (8L, 2L)).toDF("doc_id", "sig")
      .write.parquet(s"$lshTgt/index/batch=0")
    Seq((7L, 0L, Array(1, 2)), (8L, 1L, Array(3, 4)))
      .toDF("neighbor_id", "cell_id", "codes")
      .write.parquet(s"$annTgt/assign/batch=0")
    Seq(("join", 7L, 1L, 2L), ("join", 8L, 1L, 2L), ("w7", 7L, 1L, 2L))
      .toDF("term", "doc_id", "tf", "dl")
      .write.parquet(s"$bmTgt/postings/batch=0")
    Seq(("join", 2L), ("w7", 1L)).toDF("term", "df")
      .write.parquet(s"$bmTgt/df/batch=0")
    Seq((2L, 4L)).toDF("n_docs", "tot_dl")
      .write.parquet(s"$bmTgt/v=0/stats")
    assert(new java.io.File(s"$bmTgt/v=0/_SUCCESS").createNewFile())

    val reports = Streams.forget(spark, "doc_id", Seq(7L),
      Seq(morTgt, snapTgt, lshTgt, annTgt, bmTgt))
    assert(reports.map(_.kind) == Seq("merge-table", "agg-snapshot",
      "lsh-index", "ann-index", "bm25-index"), s"mis-dispatched: $reports")
    assert(reports.forall(_.layersRewritten >= 1), s"a leg did nothing: $reports")
    // each leg verified individually
    assert(Streams.latestTable(spark, morTgt).get
      .filter($"doc_id" === 7L).isEmpty, "merge table still serves the key")
    assert(Streams.latestSnapshot(spark, snapTgt).get
      .filter($"doc_id" === 7L).isEmpty, "snapshot still serves the group")
    assert(spark.read.parquet(s"$lshTgt/index")
      .filter($"doc_id" === 7L).isEmpty, "LSH signature survives")
    assert(spark.read.parquet(s"$annTgt/assign")
      .filter($"neighbor_id" === 7L).isEmpty, "ANN assignment survives")
    assert(spark.read.parquet(s"$bmTgt/postings")
      .filter($"doc_id" === 7L).isEmpty, "BM25 postings survive")
    val stats = spark.read.parquet(s"$bmTgt/v=0/stats").head
    assert(stats.getLong(0) == 1L && stats.getLong(1) == 2L,
      s"BM25 stats not decremented: $stats")
    val dfRows = spark.read.parquet(s"$bmTgt/df")
      .select("term", "df").collect().map(_.toString).sorted.toSeq
    assert(dfRows == Seq("[join,1]"), s"df not decremented exactly: $dfRows")
    // an unrecognizable target fails the WHOLE call before any byte moves
    val bogus = tmp("graft-forget-bogus")
    new java.io.File(bogus).mkdirs()
    intercept[IllegalArgumentException](
      Streams.forget(spark, "doc_id", Seq(8L), Seq(lshTgt, bogus)))
    assert(!spark.read.parquet(s"$lshTgt/index")
      .filter($"doc_id" === 8L).isEmpty, "validation must precede mutation")
    // a keyCol that is not a key of a keyed target refuses
    intercept[IllegalArgumentException](
      Streams.forget(spark, "nope", Seq(7L), Seq(morTgt)))
  }

  test("forget's path-stable corpus leg keeps manifests valid: fresh " +
      "retrieval equals the one-shot pass bit-for-bit (no survivor " +
      "double-count); an append-new rewrite outside forget refuses") {
    assume(!rocksdb)
    import spark.implicits._
    val work = tmp("graft-forget-manifests")
    val corpus = s"$work/docs"
    // every doc carries the shared term: a survivor double-count would
    // shift its df/tf/n_docs and break the bit-for-bit compare below
    (1L to 30L).map(i => (i, s"common w$i body$i"))
      .toDF("doc_id", "text")
      .repartitionByRange(3, $"doc_id").write.parquet(corpus)
    graft.ops.Layout.statsIndexFingerprint(spark, corpus,
        Seq("doc_id"), Seq("doc_id"))
      .write.mode("overwrite").parquet(s"$work/idx")
    graft.plans.SkipRewrite.register(spark, corpus, s"$work/idx")
    try {
      val bmTgt = s"$work/bm25"
      val bq = Streams.bm25IndexSink(
        spark.readStream.schema("doc_id long, text string")
          .option("maxFilesPerTrigger", 1).parquet(corpus),
        bmTgt, s"$work/bmck", "doc_id", "text")
      try bq.processAllAvailable() finally bq.stop()
      val queries = Seq((1, "common"), (2, "w9")).toDF("query_id", "term")
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("query_id", "doc_id").collect().map(_.toString).toSeq
      val reports = Streams.forget(spark, "doc_id", Seq(7L),
        Seq(bmTgt, corpus))
      assert(reports.map(_.kind) == Seq("corpus", "bm25-index"), reports)
      // THE path-stability assertion: the corpus leg rewrote the
      // affected file AT ITS OWN PATH, so the bm25 manifest stays valid
      // verbatim, fresh composition has NO tail to re-tokenize, and the
      // whole ranking equals the one-shot pass over the post-delete
      // corpus exactly — an append-new rewrite would have tokenized the
      // surviving 9 docs twice (doubled df/tf, inflated n_docs) and the
      // shared-term scores would diverge
      val fresh = canon(Streams.bm25SearchFresh(spark, bmTgt, corpus,
        queries, 5))
      assert(fresh == canon(graft.ops.TextAnalysis.bm25BatchTopK(
        spark.read.parquet(corpus), "doc_id", "text", queries, 5)),
        "fresh retrieval diverged from the one-shot pass after forget")
      assert(fresh.nonEmpty)
      // an append-new rewrite OUTSIDE forget (raw targetedDelete) trips
      // the mutation guard instead of silently double-counting
      graft.ops.Layout.targetedDelete(spark, corpus,
        spark.read.parquet(s"$work/idx"), "doc_id", Seq(9L), Seq("doc_id"))
      val ex = intercept[IllegalArgumentException](
        Streams.bm25SearchFresh(spark, bmTgt, corpus, queries, 5))
      assert(ex.getMessage.contains("rewritten under the manifest"),
        ex.getMessage)
      // the versioned (non-fresh) read stays exact and available
      assert(Streams.bm25SearchMaintained(spark, bmTgt, queries, 5)
        .count() > 0)
    } finally graft.plans.SkipRewrite.unregister(corpus)
  }

  test("targetedDeleteInPlace coexists with maintained sinks: a resumed " +
      "file source re-ingests nothing, manifests never trip the guard, " +
      "and with the artifact leg fresh retrieval equals the one-shot pass") {
    assume(!rocksdb)
    import spark.implicits._
    val work = tmp("graft-tdip-sink")
    val corpus = s"$work/docs"
    (1L to 30L).map(i => (i, s"common w$i body$i"))
      .toDF("doc_id", "text")
      .repartitionByRange(3, $"doc_id").write.parquet(corpus)
    graft.ops.Layout.statsIndexFingerprint(spark, corpus,
        Seq("doc_id"), Seq("doc_id"))
      .write.mode("overwrite").parquet(s"$work/idx")
    val bmTgt = s"$work/bm25"
    def sink() = Streams.bm25IndexSink(
      spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1).parquet(corpus),
      bmTgt, s"$work/bmck", "doc_id", "text")
    val q1 = sink(); try q1.processAllAvailable() finally q1.stop()
    // corpus leg IN PLACE (paths stable), then the artifact leg
    assert(graft.ops.Layout.targetedDeleteInPlace(spark, corpus,
      spark.read.parquet(s"$work/idx"), "doc_id", Seq(7L)).length == 1)
    assert(Streams.bm25IndexDelete(spark, bmTgt, Seq(7L)) >= 1)
    val queries = Seq((1, "common"), (2, "w9")).toDF("query_id", "term")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "doc_id").collect().map(_.toString).toSeq
    // no vanished files -> the mutation guard never trips, no manifest
    // repair was needed, and the ranking equals the one-shot pass over
    // the post-delete corpus bit-for-bit
    assert(canon(Streams.bm25SearchFresh(spark, bmTgt, corpus,
        queries, 5)) ==
      canon(graft.ops.TextAnalysis.bm25BatchTopK(
        spark.read.parquet(corpus), "doc_id", "text", queries, 5)),
      "in-place delete broke fresh retrieval")
    // RESUME the sink over the rewritten corpus plus one genuinely new
    // file: only the new file may be ingested — a re-ingest of the
    // rewritten path would double the survivors' df/tf and break the
    // equality below
    Seq((31L, "common w31 body31")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(corpus)
    val q2 = sink(); try q2.processAllAvailable() finally q2.stop()
    assert(canon(Streams.bm25SearchMaintained(spark, bmTgt, queries, 5)) ==
      canon(graft.ops.TextAnalysis.bm25BatchTopK(
        spark.read.parquet(corpus), "doc_id", "text", queries, 5)),
      "resumed sink re-ingested the rewritten file (survivors doubled)")
  }

  test("adoption is ONE-WAY: a retired sink resumed over a target that " +
      "external writes advanced refuses at its first trigger instead of " +
      "replay-overwriting the external versions") {
    assume(!rocksdb)
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val tgt = tmp("graft-adopt-tgt")
    val ck = tmp("graft-adopt-ck")
    val in = MemoryStream[(Long, String, Long, Boolean)]
    def sink() = Streams.mergeSink(in.toDF().toDF("k", "v", "seq", "del"),
      tgt, ck, Seq("k"), "seq", "del")
    val q1 = sink()
    try {
      in.addData((1L, "a", 1L, false)); q1.processAllAvailable()
      in.addData((2L, "b", 1L, false)); q1.processAllAvailable()
    } finally q1.stop()
    // retire the sink (the documented adoption step), external write
    assert(new java.io.File(s"$tgt/_query").delete())
    graft.streaming.Streams.mergeTableInsert(spark, tgt,
      Seq((3L, "external")).toDF("k", "v"))
    // resuming the OLD checkpoint would restart numbering at batch 2 =
    // the external version — the guard must refuse before any byte moves
    val q2 = sink()
    val ex = intercept[Exception] {
      try { in.addData((4L, "c", 1L, false)); q2.processAllAvailable() }
      finally q2.stop()
    }
    assert(ex.getMessage.contains("adoption is one-way") ||
      Option(ex.getCause).exists(_.getMessage.contains("adoption is one-way")),
      s"wrong refusal: ${ex.getMessage}")
    // the external version survived untouched
    assert(graft.streaming.Streams.latestTable(spark, tgt).get
      .filter(col("k") === 3L).count() == 1)
  }

  test("forget under a LIVE maintained sink: with the sink's query " +
      "running (idle between triggers), the one-call forget completes, " +
      "the next trigger ingests only genuinely-new files, and retrieval " +
      "equals the one-shot pass — the documented safe interleaving") {
    assume(!rocksdb)
    import spark.implicits._
    val work = tmp("graft-forget-live")
    val corpus = s"$work/docs"
    (1L to 30L).map(i => (i, s"common w$i body$i"))
      .toDF("doc_id", "text")
      .repartitionByRange(3, $"doc_id").write.parquet(corpus)
    graft.ops.Layout.statsIndexFingerprint(spark, corpus,
        Seq("doc_id"), Seq("doc_id"))
      .write.mode("overwrite").parquet(s"$work/idx")
    graft.plans.SkipRewrite.register(spark, corpus, s"$work/idx")
    val bmTgt = s"$work/bm25"
    val q = Streams.bm25IndexSink(
      spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1).parquet(corpus),
      bmTgt, s"$work/bmck", "doc_id", "text")
    try {
      q.processAllAvailable() // drained, but LIVE — between triggers
      assert(q.isActive)
      // forget doc 7 everywhere while the sink query is running: the
      // corpus leg swaps files in place (paths stable — the live
      // source's processed-files log stays valid), the artifact leg
      // scrubs the index layers
      val reports = Streams.forget(spark, "doc_id", Seq(7L),
        Seq(corpus, bmTgt))
      assert(reports.size == 2, s"forget must cover both legs: $reports")
      assert(q.isActive, "forget must not kill the live sink")
      // new data arrives; the LIVE query's next trigger must ingest
      // ONLY the new file — a re-ingest of a rewritten path would
      // double the survivors' df/tf and break the equality below
      Seq((31L, "common w31 body31")).toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(corpus)
      q.processAllAvailable()
      val queries = Seq((1, "common"), (2, "w9")).toDF("query_id", "term")
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("query_id", "doc_id").collect().map(_.toString).toSeq
      assert(canon(Streams.bm25SearchMaintained(spark, bmTgt, queries, 5)) ==
        canon(graft.ops.TextAnalysis.bm25BatchTopK(
          spark.read.parquet(corpus), "doc_id", "text", queries, 5)),
        "live sink re-ingested a rewritten file after forget")
      // the forgotten doc is gone from both the corpus and the ranking
      assert(spark.read.parquet(corpus)
        .filter(col("doc_id") === 7L).isEmpty)
      assert(Streams.bm25SearchMaintained(spark, bmTgt,
        Seq((3, "w7")).toDF("query_id", "term"), 5)
        .filter(col("doc_id") === 7L).isEmpty)
    } finally {
      q.stop()
      graft.plans.SkipRewrite.unregister(corpus)
    }
  }

  test("explainAcceleration covers registered merge tables: version, " +
      "freshness, lifecycle counts, and key pushdown per scan") {
    assume(!rocksdb)
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val tgt = tmp("graft-accel-mor")
    val in = MemoryStream[(Long, String, Long, Boolean)]
    val q = Streams.mergeSink(in.toDF().toDF("k", "v", "seq", "del"), tgt,
      tmp("graft-accel-morck"), Seq("k"), "seq", "del", changelog = true)
    try {
      in.addData((1L, "a1", 1L, false)); q.processAllAvailable()
      in.addData((2L, "b1", 1L, false)); q.processAllAvailable()
      graft.plans.Acceleration.registerTarget(tgt)
      // fold one generation so the lifecycle counts are non-trivial
      assert(Streams.compactTable(spark, tgt, targetFiles = 1,
        minBatches = 1).isDefined)
      // a key-filtered format read: the report must show the pushed
      // predicate on this scan
      val keyed = spark.read.format("graft").load(tgt)
        .filter(col("k") === 1L)
      assert(keyed.count() == 1)
      val report = graft.plans.Acceleration.explainAcceleration(keyed)
      assert(report.contains(s"target(merge-table: $tgt)"), report)
      assert(report.contains("version=1"), report)
      assert(report.contains("generations=1"), report)
      assert(report.contains("freshness: version=1"), report)
      assert(report.contains("pushed") && report.contains("k"),
        s"key pushdown not reported:\n$report")
      // a plan that reads the target through the Scala API (raw layer
      // scans) still reports the target's state, without a scan verdict
      val api = Streams.latestTable(spark, tgt).get
      val apiReport = graft.plans.Acceleration.explainAcceleration(api)
      assert(apiReport.contains("not read via format"), apiReport)
      // an unfiltered format read reports the full resolution
      val full = spark.read.format("graft").load(tgt)
      assert(full.count() == 2)
      assert(graft.plans.Acceleration.explainAcceleration(full)
        .contains("no key-only predicate pushed"))
      // a CHANGE-FEED scan reports the version range it serves and the
      // retention floor — the numbers that explain a surprising row
      // count or a post-truncation refusal
      val feedDf = spark.read.format("graft").option("changelog", true)
        .load(tgt)
      val feedReport = graft.plans.Acceleration.explainAcceleration(feedDf)
      assert(feedReport.contains("change-feed read: versions (-1, 1], " +
        "never truncated"), feedReport)
      // AUTO-DISCOVERY: a graft-format scan names its target on the
      // scan itself — the report covers it even without registration
      graft.plans.Acceleration.unregisterTarget(tgt)
      val undiscovered = spark.read.format("graft").load(tgt)
        .filter(col("k") === 1L)
      assert(undiscovered.count() == 1)
      assert(graft.plans.Acceleration.explainAcceleration(undiscovered)
        .contains(s"target(merge-table: $tgt)"),
        "format scans must be discovered without registration")
    } finally {
      graft.plans.Acceleration.unregisterTarget(tgt)
      q.stop()
    }
  }

  test("forget: the raw-corpus leg runs FIRST off the SkipRewrite " +
      "registration, and a fresh-composition read after the call cannot " +
      "resurrect the forgotten doc from the un-indexed tail") {
    assume(!rocksdb)
    import spark.implicits._
    val work = tmp("graft-forget-corpus")
    val corpus = s"$work/docs"
    // three range-clustered files; doc 7 carries a unique shingle set
    (1L to 30L).map(i => (i, Seq(s"u${i}a", s"u${i}b", s"u${i}c")))
      .toDF("doc_id", "shingles")
      .repartitionByRange(3, $"doc_id").write.parquet(corpus)
    graft.ops.Layout.statsIndexFingerprint(spark, corpus,
        Seq("doc_id"), Seq("doc_id"))
      .write.mode("overwrite").parquet(s"$work/idx")
    graft.plans.SkipRewrite.register(spark, corpus, s"$work/idx")
    try {
      // a REAL maintained LSH index over the corpus (file stream →
      // coverage manifest → the fresh composition path under test)
      val lshTgt = s"$work/lsh"
      val lq = Streams.lshIndexSink(
        spark.readStream.schema("doc_id long, shingles array<string>")
          .parquet(corpus),
        lshTgt, s"$work/lshck", "doc_id", "shingles")
      try lq.processAllAvailable() finally lq.stop()
      val probe7 = Seq((700L, Seq("u7a", "u7b", "u7c")))
        .toDF("doc_id", "shingles")
      // sanity: before the forget, the fresh path finds doc 7
      assert(!Streams.nearDupsFresh(spark, lshTgt, corpus, probe7,
          "doc_id", "shingles", 0.8).filter($"corpus_id" === 7L).isEmpty,
        "precondition: doc 7 must be findable before the forget")
      // corpus listed LAST on purpose: the call must reorder it first
      val reports = Streams.forget(spark, "doc_id", Seq(7L),
        Seq(lshTgt, corpus))
      assert(reports.map(_.kind) == Seq("corpus", "lsh-index"),
        s"corpus leg must run first: $reports")
      assert(reports.forall(_.layersRewritten >= 1), s"a leg did nothing: $reports")
      // the corpus itself no longer holds the doc (paths stable), and
      // the registered index was re-derived for the rewritten file —
      // registered pruning stays exact
      assert(spark.read.parquet(corpus).filter($"doc_id" === 7L).isEmpty)
      assert(spark.read.parquet(corpus).count() == 29)
      assert(spark.read.parquet(s"$work/idx").count() ==
        spark.read.parquet(corpus).inputFiles.length.toLong,
        "refreshed index out of sync with the rewritten corpus")
      assert(!spark.read.parquet(corpus).filter($"doc_id" === 9L).isEmpty)
      // THE dependency-order assertion: the fresh composition can never
      // resurrect doc 7 — its rows are gone from corpus AND index, and
      // the path-stable rewrite leaves no tail to re-sign
      assert(Streams.nearDupsFresh(spark, lshTgt, corpus, probe7,
          "doc_id", "shingles", 0.8).filter($"corpus_id" === 7L).isEmpty,
        "fresh composition resurrected the forgotten doc")
      // validation precedes mutation: a keyCol the index does not
      // fingerprint refuses the whole call, nothing rewritten
      val before = spark.read.parquet(corpus).count()
      intercept[IllegalArgumentException](
        Streams.forget(spark, "shingles", Seq(8L), Seq(corpus)))
      assert(spark.read.parquet(corpus).count() == before)
    } finally graft.plans.SkipRewrite.unregister(corpus)
  }

  test("truncateChangelog: the floor only advances, re-runs are " +
      "idempotent, reads below the floor refuse (batch and stream), " +
      "and consumers at or above it are untouched") {
    assume(!rocksdb)
    import spark.implicits._
    val tgt = tmp("graft-trunc-tgt")
    def insert(k: Long, del: Boolean = false): Long =
      Streams.mergeTableInsert(spark, tgt,
        Seq((k, s"v$k")).toDF("k", "v"),
        createKeys = Seq("k"), changelog = true, delete = del)
    (1L to 4L).foreach(i => insert(i)) // versions 0..3
    // a floor above the newest committed version refuses
    intercept[IllegalArgumentException](
      Streams.truncateChangelog(spark, tgt, keepAfter = 9L))
    assert(Streams.truncateChangelog(spark, tgt, keepAfter = 1L)
      == Seq(0L, 1L))
    assert(Streams.changelogFloor(
      spark.sparkContext.hadoopConfiguration, tgt) == 1L)
    // idempotent re-run (the crash-recovery path): no error, nothing
    // left to drop; and the floor never moves back down
    assert(Streams.truncateChangelog(spark, tgt, keepAfter = 1L).isEmpty)
    intercept[IllegalArgumentException](
      Streams.truncateChangelog(spark, tgt, keepAfter = 0L))
    // batch reads: below the floor refuses, at the floor serves
    // exactly the surviving history
    intercept[IllegalArgumentException](Streams.changelogOf(spark, tgt))
    intercept[IllegalArgumentException](
      Streams.changelogOf(spark, tgt, sinceVersion = 0L))
    assert(Streams.changelogOf(spark, tgt, sinceVersion = 1L)
      .select("batch").distinct().as[Long].collect().sorted.toSeq
      == Seq(2L, 3L))
    // the DSv2 batch face inherits the guard
    intercept[IllegalArgumentException](
      spark.read.format("graft").option("changelog", true)
        .option("sinceVersion", 0).load(tgt).count())
    // a FRESH stream whose cut stands below the floor fails loudly at
    // planning instead of serving a gapped feed
    val ckFresh = tmp("graft-trunc-ckf")
    val exS = intercept[org.apache.spark.sql.streaming
        .StreamingQueryException] {
      val q = spark.readStream.format("graft").option("changelog", true)
        .load(tgt).writeStream
        .option("checkpointLocation", ckFresh)
        .format("noop").start()
      try q.processAllAvailable() finally q.stop()
    }
    assert(exS.getMessage.contains("truncateChangelog") ||
      Option(exS.getCause).exists(_.getMessage.contains("truncateChangelog")),
      s"wrong stream refusal: ${exS.getMessage}")
    // a consumer cutting AT the floor is untouched: serves the
    // surviving versions, then resumes cleanly across a further
    // truncation that stays at or below its checkpoint
    val ck = tmp("graft-trunc-ck")
    def drain(): Seq[Long] = {
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val q = spark.readStream.format("graft").option("changelog", true)
        .option("sinceVersion", 1).load(tgt)
        .writeStream.option("checkpointLocation", ck)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.select("batch").distinct().collect()
            .foreach(r => seen.add(r.getLong(0)))
        }.start()
      try q.processAllAvailable() finally q.stop()
      import scala.jdk.CollectionConverters._
      seen.iterator.asScala.toSeq.distinct.sorted
    }
    assert(drain() == Seq(2L, 3L))
    insert(5L) // version 4
    assert(Streams.truncateChangelog(spark, tgt, keepAfter = 3L)
      == Seq(2L, 3L))
    // the checkpoint stands at 3 == the new floor: resume serves ONLY
    // the new version — nothing replayed, nothing refused
    assert(drain() == Seq(4L))
    // but a checkpoint now BELOW a further-advanced floor refuses on
    // resume (insert so the stream has something to plan)
    insert(6L) // version 5
    assert(Streams.truncateChangelog(spark, tgt, keepAfter = 5L)
      == Seq(4L, 5L))
    val exR = intercept[org.apache.spark.sql.streaming
        .StreamingQueryException] { insert(7L); drain() }
    assert(exR.getMessage.contains("truncateChangelog") ||
      Option(exR.getCause).exists(_.getMessage.contains("truncateChangelog")),
      s"wrong resume refusal: ${exR.getMessage}")
  }

  test("feedBootstrap pins version-then-state so the continuation is " +
      "gap-free under concurrent commits; truncateChangelogOlderThan " +
      "resolves the commit-time cut") {
    assume(!rocksdb)
    import spark.implicits._
    val tgt = tmp("graft-boot-tgt")
    def insert(k: Long, x: Long, del: Boolean = false): Long =
      Streams.mergeTableInsert(spark, tgt, Seq((k, x)).toDF("k", "x"),
        createKeys = Seq("k"), changelog = true, delete = del)
    (1L to 3L).foreach(k => insert(k, k * 10)) // versions 0..2
    val (v, state) = Streams.feedBootstrap(spark, tgt)
    assert(v == 2L)
    // versions land AFTER the bootstrap: an update and a tombstone —
    // the pinned state plus the feed above v must still reconstruct
    // the full current table (the tear the pin ordering prevents)
    insert(2L, 99L)              // version 3
    insert(1L, 0L, del = true)   // version 4
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy((col("k") % 2).as("g"))
        .agg(sum(col("op")).as("n"), sum(col("op") * col("x")).as("sx"))
        .collect().map(_.toString).sorted.toSeq
    val reconstructed = agg(
      state.select(col("k"), col("x"), lit(1L).as("op"))
        .unionByName(Streams.changelogOf(spark, tgt, sinceVersion = v)
          .select(col("k"), col("x"), col("op").cast("long").as("op"))))
    val direct = agg(Streams.latestTable(spark, tgt).get
      .select(col("k"), col("x"), lit(1L).as("op")))
    assert(reconstructed == direct,
      s"bootstrap continuation diverged: $reconstructed vs $direct")
    // commit-time retention: a cutoff before every commit is a no-op;
    // one after every commit resolves to the newest version and
    // truncates the whole feed; the floor then refuses re-cuts below
    assert(Streams.truncateChangelogOlderThan(spark, tgt, 0L).isEmpty)
    val dropped = Streams.truncateChangelogOlderThan(spark, tgt,
      System.currentTimeMillis() + 60000L)
    assert(dropped == Seq(0L, 1L, 2L, 3L, 4L), s"dropped: $dropped")
    assert(Streams.changelogFloor(
      spark.sparkContext.hadoopConfiguration, tgt) == 4L)
    // idempotent re-run resolves at-or-below the floor: no-op
    assert(Streams.truncateChangelogOlderThan(spark, tgt,
      System.currentTimeMillis() + 60000L).isEmpty)
  }
}

/** Default (HDFS-backed, on-heap) state store provider. */
class StreamingSpec extends StreamingSpecBase(rocksdb = false)

/** Same contract under the RocksDB provider (VERDICT r2 item 5). */
class StreamingRocksDBSpec extends StreamingSpecBase(rocksdb = true)
