package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp
import graft.streaming.Streams

/** What a sink's query reports about its own input: an agg-snapshot
  * sink reads each change batch once, and the late rows a watermarked
  * query drops are counted over its whole life. */
class SinkProgressSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("agg-snapshot sinks read each change batch once: numInputRows equals the rows landed, and an empty batch lands no layer") {
    val s = spark
    import s.implicits._
    Seq(true, false).foreach { retract =>
      val (in, tgt, ck) = (tmp("spp-in"), tmp("spp-t"), tmp("spp-ck"))
      def land(rows: Seq[(Long, Int, Double)]): Unit =
        rows.toDF("k", "op", "v").coalesce(1).write.mode("append").parquet(in)
      land((0 until 40).map(i => (i % 4L, 1, i.toDouble)))
      land(Nil)
      land((0 until 30).map(i => (i % 3L, 1, 1.0)))
      val changes = spark.readStream.schema("k long, op int, v double")
        .option("maxFilesPerTrigger", 1).parquet(in)
      val q =
        if (retract) Streams.aggSnapshotSink(changes, tgt, ck, Seq("k"), "op", Seq("v"))
        else Streams.aggSnapshotSinkAppendOnly(changes.drop("op"), tgt, ck,
          Seq("k"), Seq("v"))
      try q.processAllAvailable() finally q.stop()
      assert(q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq == Seq(40L, 30L),
        s"retract = $retract, numInputRows: " +
          q.recentProgress.map(_.numInputRows).mkString(", "))
      assert(Streams.compactionsOf(spark, tgt, "delta")._2 == Seq(0L, 2L),
        "the empty batch landed a layer")
      assert(Streams.snapshotVersionsOf(spark, tgt) == Seq(0L, 1L, 2L))
      assert(Streams.latestSnapshot(spark, tgt).get.count() == 4L)
    }
  }

  test("lateRowsDropped is a lifetime total: it keeps counting after reports leave recentProgress") {
    val s = spark
    import s.implicits._
    implicit val sql = spark.sqlContext
    val retention = "spark.sql.streaming.numRecentProgressUpdates"
    def t(minute: Long) = new Timestamp(1704067200000L + minute * 60000L)
    spark.conf.set(retention, "5")
    try {
      val in = MemoryStream[(Timestamp, String)]
      val q = Streams.toMemorySink(Streams.tumblingAgg(in.toDF().toDF("ts", "k"),
        "ts", "10 minutes", "10 minutes", Seq("k"), Seq(count(lit(1)).as("n"))),
        "spp_late", OutputMode.Append())
      try {
        in.addData((t(40), "on")); q.processAllAvailable()
        // from here on every trigger moves the watermark on and carries
        // one late event, for its own key, in the long-closed [0, 10)
        val lateTriggers = 12
        (1 to lateTriggers).foreach { i =>
          in.addData((t(40 + 20 * i), "on"), (t(1), s"late$i"))
          q.processAllAvailable()
        }
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        val recent = q.recentProgress
          .map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum
        assert(q.recentProgress.length <= 5)
        assert(Streams.lateRowsDropped(q) == lateTriggers,
          s"lifetime ${Streams.lateRowsDropped(q)}, recentProgress $recent")
        assert(recent < lateTriggers)
      } finally q.stop()
    } finally spark.conf.unset(retention)
  }
}
