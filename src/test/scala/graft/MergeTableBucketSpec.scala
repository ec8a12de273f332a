package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import graft.streaming.Streams

/** Merge-table layers hashed into key buckets: every layer — a batch's
  * slice, a generation, a rewrite — is written in the table's buckets,
  * so a read at any version is one bucketed scan whose latest-wins
  * resolution plans no exchange, an IN-list lookup reads only its keys'
  * buckets, and a compaction is one Spark job. */
class MergeTableBucketSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSession.spark
  private lazy val fs = org.apache.hadoop.fs.FileSystem.get(
    spark.sparkContext.hadoopConfiguration)

  private type Change = (Long, String, Long, Boolean)

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def land(in: String, rows: Seq[Change]): Unit = {
    val s = spark
    import s.implicits._
    rows.toDF("k", "payload", "seq", "del").coalesce(1)
      .write.mode("append").parquet(in)
  }

  private def sink(in: String, tgt: String, ck: String) =
    Streams.mergeSink(spark.readStream
      .schema("k long, payload string, seq long, del boolean")
      .option("maxFilesPerTrigger", 1).parquet(in), tgt, ck, Seq("k"), "seq", "del")

  private def runSink(in: String, tgt: String, ck: String): Unit = {
    val q = sink(in, tgt, ck)
    try q.processAllAvailable() finally q.stop()
  }

  /** The table the batches leave: within a batch the highest seq wins,
    * a later batch wins over any earlier one, a tombstone removes. */
  private def model(batches: Seq[Seq[Change]]): Map[Long, String] =
    batches.foldLeft(Map.empty[Long, String]) { (m, b) =>
      b.groupBy(_._1).values.map(_.maxBy(_._3)).foldLeft(m) {
        case (acc, (k, _, _, true)) => acc - k
        case (acc, (k, p, _, false)) => acc + (k -> p)
      }
    }

  private def changes(seed: Int, n: Int, keys: Int): Seq[Change] = {
    val r = new scala.util.Random(seed)
    (0 until n).map(i => (r.nextInt(keys).toLong, s"p$seed-$i", i.toLong,
      r.nextInt(10) == 0))
  }

  private def served(df: DataFrame): Map[Long, String] =
    df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  private def executed(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan
  }

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] =
    collect(p) { case s: FileSourceScanExec => s }

  private def bucketIds(dir: String): Set[Int] =
    fs.listStatus(new org.apache.hadoop.fs.Path(dir)).map(_.getPath.getName)
      .filter(_.endsWith(".parquet")).map { n =>
        val id = org.apache.spark.sql.execution.datasources.BucketingUtils
          .getBucketId(n)
        assert(id.isDefined, s"$dir/$n carries no bucket id")
        id.get
      }.toSet

  test("one job to collect a full read or a lookup and none to shuffle; an IN-list reads only its keys' buckets; a compaction is one job, a commit two") {
    val (in, tgt, ck) = (tmp("mtb-in"), tmp("mtb-t"), tmp("mtb-ck"))
    val batches = Seq(changes(1, 400, 200), changes(2, 60, 200))
    batches.foreach(land(in, _))
    runSink(in, tgt, ck)
    def check(expected: Map[Long, String]): Unit = {
      var got = Map.empty[Long, String]
      val read = SparkCounts.during(spark) {
        got = served(Streams.latestTable(spark, tgt).get)
      }
      assert(got == expected)
      assert(read == SparkCounts(1, 0L), s"collected full read: $read")
      val keys = Seq(3L, 5L, 8L, 13L, 21L)
      val lookup = SparkCounts.during(spark) {
        got = served(Streams.latestTableWhere(spark, tgt,
          col("k").isin(keys: _*)).get)
      }
      assert(got == expected.filter(e => keys.contains(e._1)))
      assert(lookup == SparkCounts(1, 0L), s"collected 5-key lookup: $lookup")
      val one = executed(Streams.latestTableWhere(spark, tgt,
        col("k") === 7L).get)
      val scan = scans(one)
      assert(scan.size == 1 && scan.head.bucketedScan)
      assert(scan.head.metadata.get("SelectedBucketsCount")
        .contains("1 out of 4"), scan.head.metadata)
    }
    check(model(batches))
    val compaction = SparkCounts.during(spark) {
      assert(Streams.compactTable(spark, tgt, minBatches = 1).contains(1L))
    }
    assert(compaction.jobs == 1, s"compaction: $compaction")
    assert(bucketIds(s"$tgt/compact/rows/c=1") == Set(0, 1, 2, 3))
    check(model(batches))
    // a commit that does not compact: the batch's latest-per-key slice
    // (one shuffle, two jobs under adaptive execution) and nothing else
    val next = changes(3, 40, 200)
    land(in, next)
    val q = sink(in, tgt, ck)
    try {
      q.processAllAvailable()
      val b = changes(4, 40, 200)
      val commit = SparkCounts.during(spark, Some(q.runId.toString)) {
        land(in, b)
        q.processAllAvailable()
      }
      assert(commit.jobs == 2, s"non-compacting commit: $commit")
      assert(Streams.compactionsOf(spark, tgt, "rows")._2.contains(3L))
      check(model(batches :+ next :+ b))
    } finally q.stop()
  }

  test("a generation and its tail read as one relation (no union, no exchange) and equal the model exactly") {
    assert(spark.conf.get("spark.sql.unionOutputPartitioning", "true") == "true")
    val (in, tgt, ck) = (tmp("mtb-u-in"), tmp("mtb-u-t"), tmp("mtb-u-ck"))
    val load = (0L until 2000L).map(k => (k, s"a$k", 0L, false))
    land(in, load)
    runSink(in, tgt, ck)
    assert(Streams.compactTable(spark, tgt, minBatches = 1).contains(0L))
    val tail = (1 to 3).map(i => changes(10 + i, 300, 2500))
    tail.foreach(land(in, _))
    runSink(in, tgt, ck)
    val (gens, dirs) = Streams.compactionsOf(spark, tgt, "rows")
    assert(gens == Seq(0L) && Seq(1L, 2L, 3L).forall(dirs.contains))
    val expected = model(load +: tail)
    val full = Streams.latestTable(spark, tgt).get
    val plan = executed(full)
    assert(collect(plan) { case u: UnionExec => u }.isEmpty, plan)
    assert(collect(plan) { case e: ShuffleExchangeExec => e }.isEmpty, plan)
    assert(scans(plan).size == 1 && scans(plan).head.bucketedScan, plan)
    val got = full.collect().map(r => r.getLong(0) -> r.getString(1))
    assert(got.length == expected.size, "a key was served twice or lost")
    assert(got.toMap == expected)
    val keys = (0L until 2500L by 97L)
    assert(served(Streams.latestTableWhere(spark, tgt,
      col("k").isin(keys: _*)).get) == expected.filter(e => keys.contains(e._1)))
  }

  test("tableDelete rewrites a layer in its own buckets, and the table still reads as one bucketed scan") {
    val (in, tgt, ck) = (tmp("mtb-d-in"), tmp("mtb-d-t"), tmp("mtb-d-ck"))
    val batches = Seq((0L until 300L).map(k => (k, s"a$k", 0L, false)),
      changes(21, 100, 300))
    land(in, batches.head)
    runSink(in, tgt, ck)
    assert(Streams.compactTable(spark, tgt, minBatches = 1).contains(0L))
    land(in, batches(1))
    runSink(in, tgt, ck)
    val layers = Seq(s"$tgt/compact/rows/c=0", s"$tgt/rows/batch=1")
    val before = layers.map(bucketIds)
    val doomed = Seq(4L, 9L, 77L, 150L)
    assert(Streams.tableDelete(spark, tgt, "k", doomed) >= 2)
    layers.zip(before).foreach { case (l, b) =>
      assert(bucketIds(l).subsetOf(b), s"$l changed buckets")
    }
    assert(spark.read.parquet(layers: _*).filter(col("k").isin(doomed: _*))
      .isEmpty, "a forgotten key's bytes survived")
    val expected = model(batches) -- doomed
    val full = Streams.latestTable(spark, tgt).get
    assert(scans(executed(full)).forall(_.bucketedScan))
    assert(served(full) == expected)
    var got = Map.empty[Long, String]
    val lookup = SparkCounts.during(spark) {
      got = served(Streams.latestTableWhere(spark, tgt,
        col("k").isin(3L, 4L, 5L, 150L, 151L)).get)
    }
    assert(lookup.jobs == 1, s"lookup after the rewrite: $lookup")
    assert(got == expected.filter(e => Set(3L, 5L, 151L).contains(e._1)))
  }

  test("a table written before bucketing reads identically before and after its next compaction, which buckets it") {
    val s = spark
    import s.implicits._
    val tgt = tmp("mtb-legacy")
    val layers = Seq((0L until 100L).map(k => (k, s"a$k", 0L, false)),
      changes(31, 40, 120))
    // the layout as it was: plain layers with `batch` only in their
    // directory names, versions without a recorded schema, and a
    // marker without a bucket count
    layers.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("k", "payload", "seq", "del").coalesce(1)
        .write.parquet(s"$tgt/rows/batch=$i")
      fs.create(new org.apache.hadoop.fs.Path(s"$tgt/v=$i/_SUCCESS")).close()
    }
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$tgt/_merge"))
    try out.write("layout=merge-rows\nkeys=k\nseq=seq\ndelete=del\n".getBytes("UTF-8"))
    finally out.close()
    val expected = model(layers)
    val lookupKeys = Seq(1L, 50L, 99L, 110L)
    def check(expected: Map[Long, String]): Unit = {
      assert(served(Streams.latestTable(spark, tgt).get) == expected)
      assert(served(Streams.latestTableWhere(spark, tgt,
        col("k").isin(lookupKeys: _*)).get) ==
        expected.filter(e => lookupKeys.contains(e._1)))
    }
    check(expected)
    assert(Streams.mergeLayoutOf(spark, tgt).get.buckets.isEmpty)
    // a write before the compaction lands the first bucketed layer
    // beside the plain ones
    assert(Streams.mergeTableInsert(spark, tgt,
      Seq((1L, "w1"), (500L, "w500")).toDF("k", "payload")) == 2L)
    val written = expected ++ Map(1L -> "w1", 500L -> "w500")
    check(written)
    assert(Streams.mergeLayoutOf(spark, tgt).get.buckets.contains(4))
    assert(Streams.compactTable(spark, tgt, minBatches = 1).contains(2L))
    check(written)
    assert(bucketIds(s"$tgt/compact/rows/c=2").nonEmpty)
    assert(Streams.mergeTableInsert(spark, tgt,
      Seq((50L, "w50")).toDF("k", "payload"), delete = true) == 3L)
    val full = Streams.latestTable(spark, tgt).get
    assert(scans(executed(full)).forall(_.bucketedScan))
    check(written - 50L)
  }
}
