package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.streaming.Streams

/** The merge table's recorded read schema (`v=<id>/_schema`): reads
  * plan from it without a schema-inference Spark job, evolution and
  * time travel keep their answers, a version without a record reads
  * through inference, and a type change is refused at commit. */
class MergeTableSchemaSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private lazy val fs = org.apache.hadoop.fs.FileSystem.get(
    spark.sparkContext.hadoopConfiguration)

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private val changeSchema = "k long, payload string, seq long, del boolean"

  /** Lands one change file: the sink applies it as one batch. */
  private def land(in: String, rows: Seq[(Long, String, Long, Boolean)]): Unit = {
    val s = spark
    import s.implicits._
    rows.toDF("k", "payload", "seq", "del").coalesce(1)
      .write.mode("append").parquet(in)
  }

  /** Runs the sink over every landed file, one batch per file. */
  private def runSink(in: String, tgt: String, ck: String,
                      schema: String = changeSchema): StreamingQuery = {
    val q = Streams.mergeSink(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(in), tgt, ck, Seq("k"), "seq", "del")
    try q.processAllAvailable() finally q.stop()
    q
  }

  private def rows(df: DataFrame): Seq[String] =
    df.orderBy("k").collect().map(_.toString).toSeq

  private def path(p: String) = new org.apache.hadoop.fs.Path(p)

  private def recorded(tgt: String, v: Long): StructType =
    DataType.fromJson(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$tgt/v=$v/_schema")), "UTF-8"))
      .asInstanceOf[StructType]

  /** Spark jobs `body` launches from this thread, counted once the
    * listener bus has delivered every event. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          n.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(l)
    sc.setJobGroup(group, "counted")
    try { body; org.apache.spark.ListenerBusDrain(sc); n.get() }
    finally { sc.clearJobGroup(); sc.removeSparkListener(l) }
  }

  test("building a merge-table read launches no Spark job, a 5-key lookup at most 2, before and after a compaction") {
    val (in, tgt, ck) = (tmp("mts-in"), tmp("mts-t"), tmp("mts-ck"))
    land(in, (1L to 20L).map(k => (k, s"a$k", 1L, false)))
    land(in, Seq((2L, "b2", 2L, false), (3L, "x", 2L, true)))
    runSink(in, tgt, ck)
    val keys = Seq(1L, 2L, 3L, 4L, 21L)
    def check(expected: Seq[(Long, String)], live: Long): Unit = {
      assert(jobsDuring {
        Streams.latestTable(spark, tgt).get
        Streams.latestTableWhere(spark, tgt, col("k").isin(keys: _*)).get
      } == 0, "building the reads launched Spark jobs")
      // collected as is: an orderBy would add a sampling job and a
      // shuffle of its own
      var got = Seq.empty[(Long, String)]
      val jobs = jobsDuring {
        got = Streams.latestTableWhere(spark, tgt, col("k").isin(keys: _*))
          .get.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      }
      assert(got.sorted == expected, s"lookup answered $got")
      assert(jobs <= 2, s"a 5-key lookup launched $jobs jobs")
      assert(Streams.latestTable(spark, tgt).get.count() == live)
    }
    check(Seq(1L -> "a1", 2L -> "b2", 4L -> "a4"), 19L)
    assert(Streams.compactTable(spark, tgt, targetFiles = 1,
      minBatches = 1).contains(1L))
    land(in, Seq((21L, "n21", 1L, false), (1L, "c1", 3L, false)))
    runSink(in, tgt, ck)
    assert(Streams.compactionsOf(spark, tgt, "rows")._2.contains(2L),
      "the newest batch must be read from the tail beside the generation")
    check(Seq(1L -> "c1", 2L -> "b2", 4L -> "a4", 21L -> "n21"), 20L)
  }

  test("add-column evolution: asOf before it has no added column; a version without _schema reads identically through inference and the next commit records again") {
    val s = spark
    import s.implicits._
    val (in, tgt, ck) = (tmp("mts-ev-in"), tmp("mts-ev-t"), tmp("mts-ev-ck"))
    land(in, Seq((1L, "a", 1L, false), (2L, "b", 1L, false)))
    runSink(in, tgt, ck)
    Seq((1L, "a2", 2L, false, "x1"), (3L, "c", 1L, false, "x3"))
      .toDF("k", "payload", "seq", "del", "extra").coalesce(1)
      .write.mode("append").parquet(in)
    val evolvedSchema = s"$changeSchema, extra string"
    runSink(in, tgt, ck, evolvedSchema)
    assert(recorded(tgt, 0L).fieldNames.toSeq == Seq("k", "payload", "seq", "del"))
    assert(recorded(tgt, 1L).fieldNames.toSeq ==
      Seq("k", "payload", "seq", "del", "extra"))
    val latest = Streams.latestTable(spark, tgt).get
    assert(latest.columns.toSeq == Seq("k", "payload", "extra"))
    assert(rows(latest) == Seq("[1,a2,x1]", "[2,b,null]", "[3,c,x3]"))
    val before = Streams.latestTable(spark, tgt, asOf = Some(0L)).get
    assert(before.columns.toSeq == Seq("k", "payload"),
      s"asOf 0 carries ${before.columns.mkString(", ")}")
    assert(rows(before) == Seq("[1,a]", "[2,b]"))
    // a version committed before schemas were recorded: the same
    // answer, in the same column order, through inference
    val lookup = rows(Streams.latestTableWhere(spark, tgt,
      col("k").isin(1L, 2L)).get)
    assert(fs.delete(path(s"$tgt/v=1/_schema"), false))
    val inferred = Streams.latestTable(spark, tgt).get
    assert(inferred.columns.toSeq == latest.columns.toSeq)
    assert(rows(inferred) == rows(latest))
    assert(rows(Streams.latestTableWhere(spark, tgt,
      col("k").isin(1L, 2L)).get) == lookup)
    // the next commit infers once and records from then on
    Seq((4L, "d", 1L, false, "x4")).toDF("k", "payload", "seq", "del", "extra")
      .coalesce(1).write.mode("append").parquet(in)
    runSink(in, tgt, ck, evolvedSchema)
    assert(recorded(tgt, 2L).fieldNames.toSeq ==
      Seq("k", "payload", "seq", "del", "extra"))
    assert(rows(Streams.latestTable(spark, tgt).get) ==
      Seq("[1,a2,x1]", "[2,b,null]", "[3,c,x3]", "[4,d,x4]"))
  }

  test("a type-changing batch is refused at commit and publishes no version") {
    val s = spark
    import s.implicits._
    val (in, tgt, ck) = (tmp("mts-ty-in"), tmp("mts-ty-t"), tmp("mts-ty-ck"))
    land(in, Seq((1L, "a", 1L, false)))
    runSink(in, tgt, ck)
    Seq((2L, 7, 1L, false)).toDF("k", "payload", "seq", "del").coalesce(1)
      .write.mode("append").parquet(in)
    val ex = intercept[StreamingQueryException](runSink(in, tgt, ck,
      "k long, payload int, seq long, del boolean"))
    assert(ex.getMessage.contains("'payload' changes type from string to int"),
      ex.getMessage)
    assert(Streams.snapshotVersionsOf(spark, tgt) == Seq(0L))
    assert(!fs.exists(path(s"$tgt/rows/batch=1")), "the refused layer landed")
    assert(rows(Streams.latestTable(spark, tgt).get) == Seq("[1,a]"))
    // the external write face refuses the same way and releases its claim
    val ext = tmp("mts-ty-ext")
    assert(Streams.mergeTableInsert(spark, ext,
      Seq((1L, "a")).toDF("k", "payload"), createKeys = Seq("k")) == 0L)
    val ex2 = intercept[IllegalArgumentException](Streams.mergeTableInsert(
      spark, ext, Seq((2L, 7)).toDF("k", "payload")))
    assert(ex2.getMessage.contains("'payload' changes type from string to int"),
      ex2.getMessage)
    assert(Streams.snapshotVersionsOf(spark, ext) == Seq(0L))
    assert(!fs.exists(path(s"$ext/v=1")) && !fs.exists(path(s"$ext/rows/batch=1")))
    assert(Streams.mergeTableInsert(spark, ext,
      Seq((2L, "b")).toDF("k", "payload")) == 1L)
    assert(rows(Streams.latestTable(spark, ext).get) == Seq("[1,a]", "[2,b]"))
  }

  test("a write that commits while a lower version is still writing records no schema; the slower write's added column survives reads, a compaction and the next record") {
    val s = spark
    import s.implicits._
    val tgt = tmp("mts-race")
    assert(Streams.mergeTableInsert(spark, tgt,
      Seq((1L, "a")).toDF("k", "payload"), createKeys = Seq("k")) == 0L)
    // writer A claims version 1 and adds column 'a'; while its files are
    // still invisible (as under the committer's _temporary), writer B
    // claims version 2, adds column 'b' and commits first
    val hidden = s"${tmp("mts-race-hidden")}/batch=1"
    Streams.mergeInsertInterleave = Some { dir =>
      Streams.mergeInsertInterleave = None
      assert(fs.rename(path(s"$dir/rows/batch=1"), path(hidden)))
      try assert(Streams.mergeTableInsert(spark, dir,
        Seq((3L, "c", "y3")).toDF("k", "payload", "b")) == 2L)
      finally assert(fs.rename(path(hidden), path(s"$dir/rows/batch=1")))
    }
    try assert(Streams.mergeTableInsert(spark, tgt,
      Seq((2L, "b", "x2")).toDF("k", "payload", "a")) == 1L)
    finally Streams.mergeInsertInterleave = None
    val expected = Seq("[1,a,null,null]", "[2,b,x2,null]", "[3,c,null,y3]")
    def served(): Seq[String] = {
      val t = Streams.latestTable(spark, tgt).get
      assert(Set("a", "b").subsetOf(t.columns.toSet),
        s"served columns: ${t.columns.mkString(", ")}")
      rows(t.select("k", "payload", "a", "b"))
    }
    assert(served() == expected)
    assert(!fs.exists(path(s"$tgt/v=2/_schema")),
      "version 2 recorded a schema while version 1 was still writing")
    assert(recorded(tgt, 1L).fieldNames.contains("a"))
    assert(Streams.compactTable(spark, tgt, targetFiles = 1,
      minBatches = 1).contains(2L))
    assert(served() == expected, "the compaction lost a column")
    // the next write infers once and records every column from then on
    assert(Streams.mergeTableInsert(spark, tgt,
      Seq((4L, "d", "x4", "y4")).toDF("k", "payload", "a", "b")) == 3L)
    assert(Set("a", "b").subsetOf(recorded(tgt, 3L).fieldNames.toSet))
    assert(served() == expected :+ "[4,d,x4,y4]")
    assert(Streams.compactTable(spark, tgt, targetFiles = 1,
      minBatches = 1).contains(3L))
    assert(served() == expected :+ "[4,d,x4,y4]")
  }

  test("a _schema written without _SUCCESS stays invisible, and the replayed batch rewrites it") {
    val (in, tgt, ck) = (tmp("mts-rp-in"), tmp("mts-rp-t"), tmp("mts-rp-ck"))
    land(in, Seq((1L, "a", 1L, false), (2L, "b", 1L, false)))
    land(in, Seq((1L, "a2", 2L, false)))
    land(in, Seq((2L, "b3", 2L, false), (3L, "c", 1L, false)))
    runSink(in, tgt, ck)
    val asOf1 = rows(Streams.latestTable(spark, tgt, asOf = Some(1L)).get)
    val full = rows(Streams.latestTable(spark, tgt).get)
    // batch 2 crashed between recording its schema and publishing:
    // its _SUCCESS and the checkpoint's commit entry are gone, and
    // the record it left is torn
    val torn = recorded(tgt, 2L).add("ghost", "string")
    val out = fs.create(path(s"$tgt/v=2/_schema"), true)
    try out.write(torn.json.getBytes("UTF-8")) finally out.close()
    assert(fs.delete(path(s"$tgt/v=2/_SUCCESS"), false))
    assert(fs.delete(path(s"$ck/commits/2"), false))
    fs.delete(path(s"$ck/commits/.2.crc"), false)
    val served = Streams.latestTable(spark, tgt).get
    assert(served.columns.toSeq == Seq("k", "payload"))
    assert(rows(served) == asOf1)
    runSink(in, tgt, ck)
    assert(Streams.snapshotVersionsOf(spark, tgt).max == 2L)
    assert(recorded(tgt, 2L).fieldNames.toSeq == Seq("k", "payload", "seq", "del"))
    assert(rows(Streams.latestTable(spark, tgt).get) == full)
  }

  test("mergeSink reads each change batch once: numInputRows equals the rows landed; empty change files leave answers unchanged") {
    val (in, tgt, ck) = (tmp("mts-em-in"), tmp("mts-em-t"), tmp("mts-em-ck"))
    // an empty FIRST batch commits nothing
    land(in, Nil)
    runSink(in, tgt, ck)
    assert(Streams.snapshotVersionsOf(spark, tgt).isEmpty)
    assert(!fs.exists(path(s"$tgt/rows/batch=0")))
    land(in, (1L to 50L).map(k => (k, s"a$k", 1L, false)))
    val q = runSink(in, tgt, ck)
    val data = q.recentProgress.filter(_.numInputRows > 0)
    assert(data.map(_.numInputRows).toSeq == Seq(50L),
      s"numInputRows: ${q.recentProgress.map(_.numInputRows).mkString(", ")}")
    val before = rows(Streams.latestTable(spark, tgt).get)
    assert(before.size == 50)
    // an empty LATER batch commits a version but lands no layer
    land(in, Nil)
    runSink(in, tgt, ck)
    assert(Streams.snapshotVersionsOf(spark, tgt) == Seq(1L, 2L))
    assert(!fs.exists(path(s"$tgt/rows/batch=2")))
    assert(recorded(tgt, 2L) == recorded(tgt, 1L))
    assert(rows(Streams.latestTable(spark, tgt).get) == before)
  }
}
