package graftbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.Engine
import graft.queries.Registry
import graft.streaming.Streams

/** Timed harness of the graft benchmark.
  *
  * Runs three phases against graft's public functions: LLM registry
  * queries through the noop sink, a file-fed event-time window stream,
  * and a merge-on-read table under upserts, lookups and full reads, each
  * for the number of rounds run.py gives it, so every run reports every
  * end-to-end metric. Inputs are pre-staged by run.py; this program only
  * moves staged files into watched directories and times the calls.
  *
  * Arguments are `key=value` pairs; results go to `<work>/result.json`
  * plus the output files run.py checks. */
object Main {
  def main(argv: Array[String]): Unit = {
    val conf = argv.map { a =>
      val i = a.indexOf('=')
      a.take(i) -> a.drop(i + 1)
    }.toMap
    val code = try { new Run(conf).run(); 0 } catch {
      case t: Throwable => t.printStackTrace(); 1
    }
    System.out.flush()
    System.err.flush()
    Runtime.getRuntime.halt(code)
  }
}

/** Spans around calls into the program, kept in memory, written at exit. */
final class Tracer(val on: Boolean) {
  private final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int)
  private val spans = ArrayBuffer[Span]()
  private var stack = List(-1)
  private var nextId = 0
  private val origin = System.nanoTime()

  def apply[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.head
      stack = id :: stack
      val s = System.nanoTime()
      try f
      finally {
        spans += Span(id, name, s - origin, System.nanoTime() - origin, parent)
        stack = stack.tail
      }
    }

  def write(path: String): Unit = if (on) {
    val pw = new PrintWriter(path)
    try spans.foreach { s =>
      pw.println(Json(Map("id" -> s.id, "name" -> s.name, "start_ns" -> s.start,
        "end_ns" -> s.end, "parent" -> s.parent)))
    } finally pw.close()
  }
}

/** Task and job counters from Spark's own listener records. */
final class Counters extends SparkListener with QueryExecutionListener {
  final case class Snap(v: Map[String, Double]) {
    def -(o: Snap): Snap = Snap(v.map { case (k, x) =>
      k -> (if (k == "peak_mem") x else x - o.v(k))
    })
    def apply(k: String): Double = v(k)
  }
  private val c = mutable.LinkedHashMap[String, Double](Seq("jobs", "stages", "tasks",
    "delay_ms", "run_ms", "cpu_ns", "gc_ms", "shuffle_write", "shuffle_read",
    "shuffle_records", "spill", "peak_mem", "in_records", "in_bytes", "scan_tasks",
    "out_bytes", "exec_ns").map(_ -> 0.0): _*)

  private def add(k: String, x: Double): Unit = c(k) = c(k) + x

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { add("jobs", 1) }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { add("stages", 1) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      val overhead = m.executorDeserializeTime + m.resultSerializationTime
      add("delay_ms", math.max(0L, info.duration - m.executorRunTime - overhead -
        (if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L)))
      add("run_ms", m.executorRunTime)
      add("cpu_ns", m.executorCpuTime)
      add("gc_ms", m.jvmGCTime)
      add("shuffle_write", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_read", m.shuffleReadMetrics.totalBytesRead)
      add("shuffle_records", m.shuffleReadMetrics.recordsRead)
      add("spill", m.memoryBytesSpilled + m.diskBytesSpilled)
      c("peak_mem") = math.max(c("peak_mem"), m.peakExecutionMemory.toDouble)
      add("in_records", m.inputMetrics.recordsRead)
      add("in_bytes", m.inputMetrics.bytesRead)
      if (m.inputMetrics.bytesRead > 0) add("scan_tasks", 1)
      add("out_bytes", m.outputMetrics.bytesWritten)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { add("exec_ns", durationNs) }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** `peak_mem` is the largest task peak since the session started. */
  def snap(): Snap = synchronized(Snap(c.toMap))
}

final class Run(conf: Map[String, String]) {
  private val work = conf("work")
  private val out = s"$work/out"
  private val workload = conf("workload")
  private val trace = new Tracer(conf("trace") == "1")
  private val tracing = trace.on

  private var attempted = 0L
  private var failed = 0L
  private val errors = ArrayBuffer[String]()
  private var firstOpEpochUs = 0L
  private var sessionS = 0.0
  private val result = mutable.LinkedHashMap[String, Any]()
  private val layers = mutable.LinkedHashMap[String, Double]()
  private val counters = new Counters
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  private lazy val spark: SparkSession = {
    val t0 = System.nanoTime()
    val s = trace("Engine.session")(Engine.session("graftbench", conf("cpus")))
    sessionS = (System.nanoTime() - t0) / 1e9
    s.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    if (tracing) {
      s.sparkContext.addSparkListener(counters)
      s.listenerManager.register(counters)
    }
    s
  }

  private def drain(): Unit = ListenerBusAccess.drain(spark.sparkContext)
  private def snap(): counters.Snap = { if (tracing) drain(); counters.snap() }

  /** One timed operation: counts it, times it, and counts a throw as a failure. */
  private def timed(body: => Unit): Option[Double] = {
    if (firstOpEpochUs == 0L) {
      val now = java.time.Instant.now()
      firstOpEpochUs = now.getEpochSecond * 1000000L + now.getNano / 1000
    }
    attempted += 1
    val t0 = System.nanoTime()
    try {
      body
      Some((System.nanoTime() - t0) / 1e9)
    } catch {
      case t: Throwable =>
        failed += 1
        errors += s"${t.getClass.getName}: ${t.getMessage}".take(400)
        None
    }
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def land(from: String, toDir: String): Unit = {
    val src = Paths.get(from)
    Files.move(src, Paths.get(toDir).resolve(src.getFileName))
  }

  private def dirBytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  private def progressOf(q: StreamingQuery, fromBatch: Long): Seq[StreamingQueryProgress] = {
    drain()
    progress.asScala.filter(p => p.id == q.id && p.batchId >= fromBatch &&
      p.durationMs.containsKey("addBatch")).toSeq
  }

  /** Progress of the batches `q` ran; the idle reports it also keeps carry
    * the id of the next batch and no `addBatch` phase. */
  private def batches(q: StreamingQuery): Array[StreamingQueryProgress] =
    q.recentProgress.filter(_.durationMs.containsKey("addBatch"))

  private def lastBatch(q: StreamingQuery): Long =
    batches(q).lastOption.map(_.batchId).getOrElse(-1L)

  /** A batch that read new files, told by its source offsets
    * (`numInputRows` is not a reliable sign: the merge sink's query also
    * counts the rows its sink reads a second time). */
  private def isData(p: StreamingQueryProgress): Boolean =
    p.sources.exists(s => s.startOffset != s.endOffset)

  /** Runs `q` until it has run `files` data batches after batch `after`
    * (one file per trigger) and, when `settle`, a no-data batch (the one
    * that emits the windows the advanced watermark closed) after them.
    * `processAllAvailable` alone can return on an idle trigger whose file
    * listing began before the file landed, so the wait reads the query's
    * own progress. Throws on more data batches or after 60 s. */
  private def awaitBatches(q: StreamingQuery, after: Long, files: Int, settle: Boolean): Unit = {
    trace("processAllAvailable")(q.processAllAvailable())
    val t0 = System.nanoTime()
    while (true) {
      val ps = batches(q).filter(_.batchId > after)
      val data = ps.count(isData)
      if (data > files)
        throw new IllegalStateException(s"$data data batches after $after, expected $files")
      if (data == files && (!settle || !isData(ps.last))) return
      if (System.nanoTime() - t0 > 60e9)
        throw new IllegalStateException(s"$data of $files data batches after $after in 60 s")
      Thread.sleep(1)
    }
  }

  /** Counter deltas summed over a kind of timed operation (traced runs). */
  private final class Accum {
    private val sum = mutable.Map[String, Double]().withDefaultValue(0.0)
    private var n = 0
    def apply[T](f: => T): T = {
      val s0 = snap()
      try f
      finally {
        val d = snap() - s0
        d.v.foreach { case (k, x) => if (k != "peak_mem") sum(k) += x }
        n += 1
      }
    }
    /** Mean per operation. */
    def per(k: String): Double = sum(k) / math.max(1, n)
  }

  private def schedulerLayers(a: Accum): Unit = {
    layers("scheduler.jobs") = a.per("jobs")
    layers("scheduler.stages") = a.per("stages")
    layers("scheduler.tasks") = a.per("tasks")
    layers("scheduler.delay_s") = a.per("delay_ms") / 1e3
  }

  // ---- phases ------------------------------------------------------------

  private trait Phase {
    def name: String
    def setup(): Unit
    def round(): Unit
    def finish(): Unit
    final def rounds: Int = conf(s"${name}_rounds").toInt
  }

  /** LLM registry queries, materialized through the noop sink. */
  private final class LlmPhase(names: Seq[String]) extends Phase {
    val name = "llm"
    private val dir = conf("tables")
    private val passes = ArrayBuffer[Double]()
    private val perQ = names.map(_ -> ArrayBuffer[Double]()).toMap
    private val perQJobs = names.map(_ -> ArrayBuffer[Double]()).toMap
    private val buildS, buildJobs, planS = ArrayBuffer[Double]()
    val acc = new Accum

    private def fresh(): Unit = {
      System.gc()
      spark.catalog.clearCache()
    }

    /** An untimed pass: to parquet at `dest`, or through the noop sink. */
    private def warmPass(dest: Option[String]): Unit = for (n <- names) {
      fresh()
      val w = Registry.byName(n).run(spark, dir).write.mode("overwrite")
      dest.fold(w.format("noop").save())(d => w.parquet(s"$d/$n"))
    }

    def setup(): Unit = {
      // two warm passes: the first writes the outputs run.py checks, the
      // second goes through the noop sink the timed passes use
      warmPass(Some(s"$out/llm"))
      warmPass(None)
      val pw = new PrintWriter(s"$out/oracle.json")
      try pw.println(Json(names.flatMap(n => Registry.byName(n).oracle.map(n -> _)).toMap))
      finally pw.close()
    }

    /** One timed pass over the query list. */
    def round(): Unit = {
      var total = 0.0
      var ok = true
      var build, bjobs, plan = 0.0
      acc(for (n <- names) {
        fresh()
        val s0 = snap()
        timed {
          val t0 = System.nanoTime()
          val df = trace(s"QueryDef.run $n")(Registry.byName(n).run(spark, dir))
          build += (System.nanoTime() - t0) / 1e9
          if (tracing) {
            bjobs += (snap() - s0)("jobs")
            val p0 = System.nanoTime()
            trace(s"plan $n")(df.queryExecution.executedPlan)
            plan += (System.nanoTime() - p0) / 1e9
          }
          trace(s"noop write $n")(df.write.format("noop").mode("overwrite").save())
        } match {
          case Some(x) =>
            total += x
            perQ(n) += x
            if (tracing) perQJobs(n) += (snap() - s0)("jobs")
          case None => ok = false
        }
      })
      buildS += build
      buildJobs += bjobs
      planS += plan
      if (ok) passes += total
    }

    def finish(): Unit = {
      result("llm_pass_s") = passes.toSeq
      result("llm_queries") = names
      if (tracing) {
        layers("queries.build_s") = median(buildS.toSeq)
        layers("queries.build_jobs") = median(buildJobs.toSeq)
        for (n <- names) {
          layers(s"query.$n.s") = median(perQ(n).toSeq)
          layers(s"query.$n.jobs") = median(perQJobs(n).toSeq)
        }
        layers("plans.plan_s") = median(planS.toSeq)
        layers("ops.exec_s") = acc.per("exec_ns") / 1e9
        layers("ops.task_run_s") = acc.per("run_ms") / 1e3
        layers("ops.task_cpu_s") = acc.per("cpu_ns") / 1e9
        layers("ops.gc_s") = acc.per("gc_ms") / 1e3
        layers("ops.shuffle_write_bytes") = acc.per("shuffle_write")
        layers("ops.shuffle_read_bytes") = acc.per("shuffle_read")
        layers("ops.shuffle_records") = acc.per("shuffle_records")
        layers("ops.spill_bytes") = acc.per("spill")
        layers("ops.peak_exec_memory_bytes") = snap()("peak_mem")
        layers("sources.scan_rows") = acc.per("in_records")
        layers("sources.scan_bytes") = acc.per("in_bytes")
        layers("sources.scan_tasks") = acc.per("scan_tasks")
      }
    }
  }

  /** File source -> Streams.tumblingAgg with a watermark -> memory sink. */
  private final class StreamPhase extends Phase {
    val name = "stream"
    private val probes = conf("stream_probes").toInt
    private val staged = conf("stream_staged")
    private val inDir = s"$work/stream-in"
    private val backlogFiles = conf("stream_backlog").toInt
    private val perFile = conf("stream_events_per_file").toInt
    private var q: StreamingQuery = _
    private var next = 0
    private var firstTimedBatch = 0L
    private val latency, rate = ArrayBuffer[Double]()
    val acc = new Accum


    /** Lands `n` files and waits for their data batches and the no-data
      * batch that emits the windows they closed. */
    private def landAndAwait(n: Int): Unit = {
      val b0 = lastBatch(q)
      (0 until n).foreach { _ =>
        land(f"$staged/ev-$next%05d.parquet", inDir)
        next += 1
      }
      awaitBatches(q, b0, n, settle = true)
    }

    def setup(): Unit = {
      new File(inDir).mkdirs()
      val schema = StructType(Seq(StructField("ts", TimestampType),
        StructField("k", IntegerType), StructField("v", LongType)))
      val events = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      val agg = trace("Streams.tumblingAgg")(Streams.tumblingAgg(events, "ts",
        conf("watermark"), conf("window"), Seq("k"),
        Seq(count(lit(1)).as("n"), sum("v").as("s"))))
      q = trace("Streams.toMemorySink")(
        Streams.toMemorySink(agg, "bench_windows", OutputMode.Append()))
      // warm-up: file 0, then file 1 with the first late events
      (0 until 2).foreach(_ => landAndAwait(1))
      firstTimedBatch = lastBatch(q) + 1
    }

    /** Single files landed on the idle, caught-up stream, then a backlog
      * of files landed at once and drained. */
    def round(): Unit = {
      System.gc()
      (0 until probes).foreach(_ => acc(timed(landAndAwait(1))).foreach(latency += _ * 1000))
      timed(landAndAwait(backlogFiles)).foreach(t => rate += backlogFiles * perFile / t)
    }

    def finish(): Unit = {
      val lastTimed = lastBatch(q)
      // flush: the sentinel event pushes the watermark past every real window
      land(s"$staged/flush.parquet", inDir)
      awaitBatches(q, lastTimed, 1, settle = true)
      val all = progressOf(q, 0)
      val timedP = all.filter(p => p.batchId >= firstTimedBatch && p.batchId <= lastTimed)
      val dropped = all.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum
      val windows = spark.sql("SELECT unix_micros(window.start) AS ws, " +
        "unix_micros(window.end) AS we, k, n, s FROM bench_windows").collect()
      val pw = new PrintWriter(s"$out/windows.jsonl")
      try windows.foreach(r => pw.println(Json(Seq(r.getLong(0), r.getLong(1),
        r.getInt(2), r.getLong(3), r.getLong(4))))) finally pw.close()
      result("stream_latency_ms") = latency.toSeq
      result("stream_events_per_s") = rate.toSeq
      result("stream_files_landed") = next
      result("stream_dropped_listener") = dropped
      result("stream_late_rows_dropped_api") = Streams.lateRowsDropped(q)
      result("stream_triggers") = all.size
      q.stop()
      if (tracing) {
        val data = timedP.filter(isData)
        def dur(k: String) = median(data.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
        layers("streaming.trigger_ms") = dur("triggerExecution")
        layers("streaming.add_batch_ms") = dur("addBatch")
        layers("streaming.query_planning_ms") = dur("queryPlanning")
        layers("streaming.wal_commit_ms") = dur("walCommit")
        layers("streaming.commit_offsets_ms") = dur("commitOffsets")
        layers("streaming.latest_offset_ms") = dur("latestOffset")
        layers("streaming.state_rows") = median(data.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble))
        layers("streaming.state_bytes") = median(data.map(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble))
        // a sum over the state partitions' tasks, which run in parallel
        layers("streaming.state_commit_ms") = median(data.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble))
        layers("streaming.triggers") = timedP.size
        layers("streaming.rows_dropped_by_watermark") = dropped
      }
    }
  }

  /** Change files -> Streams.mergeSink with auto-compaction; point lookups
    * and full reads of the maintained table between commits. */
  private final class TablePhase extends Phase {
    val name = "table"
    private val staged = conf("table_staged")
    private val inDir = s"$work/table-in"
    private val target = s"$work/table"
    private val perRound = conf("table_lookups").toInt
    private val tableKeys = conf("table_keys").toLong
    private val keys: Iterator[Seq[Long]] = scala.io.Source.fromFile(conf("lookup_keys"))
      .getLines().map(_.split(',').map(_.toLong).toSeq).toList.iterator
    private var q: StreamingQuery = _
    private var next = 0
    private val commitMs, lookupMs, scanMs = ArrayBuffer[Double]()
    private val lookupPlanMs, lookupExecMs, batchDirs, gens = ArrayBuffer[Double]()
    private val compactionMs = ArrayBuffer[Double]()
    private var changeBytes = 0L
    private var writtenBytes = 0.0
    private var rowsRead, rowsReturned = 0.0
    private var firstTimedBatch = 0L
    private var lastScanRows = 0L
    private val lookups = new PrintWriter(s"$out/lookups.jsonl")
    private val scans = new PrintWriter(s"$out/scans.jsonl")


    /** Lands the next change file and waits until its batch is committed. */
    private def landAndAwait(): Unit = {
      val b0 = lastBatch(q)
      land(f"$staged/ch-$next%05d.parquet", inDir)
      awaitBatches(q, b0, 1, settle = false)
      next += 1
    }

    private def commit(): Unit = {
      changeBytes += new File(f"$staged/ch-$next%05d.parquet").length()
      val gen0 = latestGen()
      val s0 = snap()
      timed(landAndAwait()).foreach { t =>
        commitMs += t * 1000
        if (tracing && latestGen() != gen0) compactionMs += t * 1000
      }
      if (tracing) {
        writtenBytes += (snap() - s0)("out_bytes")
        batchDirs += listNames(s"$target/rows").count(_.startsWith("batch="))
        gens += listNames(s"$target/compact/rows").count(_.startsWith("c="))
      }
    }

    private def listNames(d: String): Seq[String] =
      Option(new File(d).list()).map(_.toSeq).getOrElse(Nil)

    private def latestGen(): String =
      listNames(s"$target/compact/rows").filter(_.startsWith("c=")).sorted.lastOption.getOrElse("")

    private def lookup(): Unit = {
      val ks = keys.next()
      var rows: Array[Row] = Array.empty
      val s0 = snap()
      timed {
        val df = trace("Streams.latestTableWhere")(
          Streams.latestTableWhere(spark, target, col("k").isin(ks: _*))).get
        if (tracing) {
          val p0 = System.nanoTime()
          df.queryExecution.executedPlan
          val p1 = System.nanoTime()
          rows = df.collect()
          lookupPlanMs += (p1 - p0) / 1e6
          lookupExecMs += (System.nanoTime() - p1) / 1e6
        } else rows = df.collect()
      }.foreach(t => lookupMs += t * 1000)
      if (tracing) { rowsRead += (snap() - s0)("in_records"); rowsReturned += rows.length }
      lookups.println(Json(Map("applied" -> next, "keys" -> ks,
        "rows" -> rows.map(r => Seq(r.getAs[Long]("k"), r.getAs[String]("payload"))).toSeq)))
    }

    private def scan(): Unit = {
      var rows: Array[Row] = Array.empty
      val s0 = snap()
      timed {
        rows = trace("Streams.latestTable")(Streams.latestTable(spark, target)).get.collect()
      }.foreach(t => scanMs += t * 1000)
      if (tracing) { rowsRead += (snap() - s0)("in_records"); rowsReturned += rows.length }
      lastScanRows = rows.length
      scans.println(Json(Map("applied" -> next, "rows" -> rows.length,
        "digest" -> Digest.of(rows.map(r => (r.getAs[Long]("k"), r.getAs[String]("payload")))))))
    }

    def setup(): Unit = {
      new File(inDir).mkdirs()
      val schema = StructType(Seq(StructField("k", LongType), StructField("seq", LongType),
        StructField("deleted", BooleanType), StructField("payload", StringType)))
      val changes = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      q = trace("Streams.mergeSink")(Streams.mergeSink(changes, target, s"$work/table-ckpt",
        Seq("k"), "seq", "deleted", compactEvery = conf("compact_every").toInt))
      landAndAwait()        // the initial load of the whole key space
      landAndAwait()
      Streams.latestTableWhere(spark, target, col("k").isin(0L, 1L)).get.collect()
      Streams.latestTable(spark, target).get.collect()
      firstTimedBatch = lastBatch(q) + 1
    }

    /** One change file committed, then point lookups and a full read. */
    def round(): Unit = {
      System.gc()
      commit()
      (0 until perRound).foreach(_ => lookup())
      scan()
    }

    def finish(): Unit = {
      lookups.close()
      scans.close()
      result("upsert_commit_ms") = commitMs.toSeq
      result("lookup_ms") = lookupMs.toSeq
      result("table_scan_ms") = scanMs.toSeq
      val all = progressOf(q, firstTimedBatch)
      q.stop()
      if (tracing) {
        val data = all.filter(_.numInputRows > 0)
        def dur(k: String) = median(data.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
        layers("streaming.sink.trigger_ms") = dur("triggerExecution")
        layers("streaming.sink.add_batch_ms") = dur("addBatch")
        layers("streaming.sink.query_planning_ms") = dur("queryPlanning")
        layers("streaming.sink.wal_commit_ms") = dur("walCommit")
        layers("streaming.sink.commit_offsets_ms") = dur("commitOffsets")
        layers("streaming.sink.latest_offset_ms") = dur("latestOffset")
        layers("streaming.sink.batch_dirs") = median(batchDirs.toSeq)
        layers("streaming.sink.generations") = median(gens.toSeq)
        layers("streaming.sink.compactions") = compactionMs.size
        layers("streaming.sink.compaction_commit_ms") = median(compactionMs.toSeq)
        layers("streaming.sink.bytes_written_per_change_byte") =
          if (changeBytes > 0) writtenBytes / changeBytes else 0.0
        val rowBytes = new File(f"$work/table-in/ch-00000.parquet").length().toDouble /
          tableKeys.toDouble
        layers("streaming.sink.bytes_on_disk_per_live_byte") =
          (dirBytes(new File(s"$target/rows")) + dirBytes(new File(s"$target/compact"))) /
            math.max(1.0, lastScanRows * rowBytes)
        layers("streaming.sink.lookup_exec_ms") = median(lookupExecMs.toSeq)
        layers("plans.lookup_plan_ms") = median(lookupPlanMs.toSeq)
        layers("sources.rows_read_per_row_returned") =
          if (rowsReturned > 0) rowsRead / rowsReturned else 0.0
      }
    }
  }

  // ---- the run -------------------------------------------------------------

  def run(): Unit = {
    new File(out).mkdirs()
    spark.conf.set("spark.sql.shuffle.partitions", conf("cpus"))
    val llm = new LlmPhase(conf("llm_queries").split(',').toSeq)
    val stream = new StreamPhase
    val table = new TablePhase
    // the same order in both workloads: the stream and the table run on a
    // JVM the LLM queries have warmed
    val wall = mutable.LinkedHashMap[String, Double]()
    for (p <- Seq(llm, stream, table)) {
      val t = System.nanoTime()
      p.setup()
      val t0 = System.nanoTime()
      (0 until p.rounds).foreach(_ => p.round())
      wall(s"${p.name}.rounds") = (System.nanoTime() - t0) / 1e9
      p.finish()
      wall(p.name) = (System.nanoTime() - t) / 1e9
    }
    if (tracing) {
      layers("engine.session_s") = sessionS
      schedulerLayers(if (workload == "llm_batch") llm.acc else stream.acc)
    }
    result("workload") = workload
    result("first_op_epoch_us") = firstOpEpochUs
    result("session_s") = sessionS
    result("phase_wall_s") = wall.toMap
    result("attempted") = attempted
    result("failed") = failed
    result("errors") = errors.toSeq
    result("layers") = layers.toMap
    trace.write(s"$out/trace.jsonl")
    val pw = new PrintWriter(s"$work/result.json")
    try pw.println(Json(result.toMap)) finally pw.close()
  }
}

/** Order-independent table digest: the wrapping sum of each row's
  * md5("k|payload") prefix read as a signed 64-bit integer. */
object Digest {
  def of(rows: Iterable[(Long, String)]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    var acc = 0L
    rows.foreach { case (k, p) =>
      val h = md.digest(s"$k|$p".getBytes("UTF-8"))
      acc += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
    }
    java.lang.Long.toUnsignedString(acc)
  }
}

/** Minimal JSON rendering for the result files. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => apply(other.toString)
  }
}
