package graft.tools

import org.apache.spark.sql.functions._

/** Maintained-INDEX lifecycle at 10³ batches — the BM25 twin of the
  * merge-table lifecycle measurement (COVERAGE.md): does a
  * search's FILE-OPEN count stay bounded under `compactMaxTail`, and
  * does a targeted forget cost O(layers containing hits) rather than
  * O(all layers)?
  *
  *  - Two identical [[graft.streaming.Streams.bm25IndexSink]] runs over
  *    the same 10³ one-file microbatches: `capped` (compactMaxTail = 8)
  *    vs `uncapped` (0 — the pure geometric schedule, whose raw tail
  *    grows to |covered| between doubling points: ~489 dirs by batch
  *    1000). Per run: ingest wall time, retained generations, tail
  *    dirs, then a 3-point search probe (terms unique to batches 1,
  *    B/2, B-1) reporting the planned file-open count and latency.
  *  - Forget-at-scale on the capped target:
  *    [[graft.streaming.Streams.bm25IndexDelete]] of 3 docs (batches 1
  *    and B/2) — layers rewritten vs layers on disk, wall seconds, and
  *    the post-delete invariants (the unique term unfindable, stats
  *    decremented by exactly the doomed doc count). The crash-resume
  *    ALGEBRA is spec-pinned (StreamingSpec's exactly-once stamp
  *    specs); this asserts the COST.
  *
  * Usage: runMain graft.tools.Bm25LifecycleProbe [batches]
  */
object Bm25LifecycleProbe {

  def main(args: Array[String]): Unit = {
    val batches = args.headOption.map(_.toInt).getOrElse(1000)
    val spark = graft.Engine.session("bm25-lifecycle-probe")
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    import spark.implicits._

    def ckpt(tag: String): String =
      java.nio.file.Files.createTempDirectory(s"graft-bm25probe-$tag").toString

    def openedFiles(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.inputFiles.length
            case _ => 0
          }
      }.sum

    def run(label: String, maxTail: Int): String = {
      val base = ckpt(s"$label-base")
      val tgt = ckpt(s"$label-tgt")
      val ck = ckpt(s"$label-ck")
      val t0 = System.nanoTime()
      (0 until batches).foreach { b =>
        Seq((2L * b, s"common alpha$b beta$b"),
            (2L * b + 1, s"common gamma$b"))
          .toDF("doc_id", "text")
          .coalesce(1).write.mode("append").parquet(base)
      }
      val landS = (System.nanoTime() - t0) / 1e9
      val q = graft.streaming.Streams.bm25IndexSink(
        spark.readStream.schema("doc_id long, text string")
          .option("maxFilesPerTrigger", 1).parquet(base),
        tgt, ck, "doc_id", "text",
        filesPerBatch = 1, compactEvery = 1, compactFiles = 4,
        compactMaxTail = maxTail)
      val t1 = System.nanoTime()
      try q.processAllAvailable() finally q.stop()
      val ingestS = (System.nanoTime() - t1) / 1e9
      val (gens, dirs) =
        graft.streaming.Streams.compactionsOf(spark, tgt, "postings")
      println(f"STAGE bm25_ingest_$label%-9s batches=$batches%5d land=$landS%7.2fs ingest=$ingestS%8.2fs gensRetained=${gens.mkString(",")} tailDirs=${dirs.length}%4d")
      Seq(1, batches / 2, batches - 1).foreach { b =>
        val queries = Seq((b.toLong, s"alpha$b")).toDF("query_id", "qtext")
        def search = graft.streaming.Streams.bm25SearchMaintained(
          spark, tgt, queries, k = 5)
        val t = System.nanoTime()
        val top = search.collect()
        val sec = (System.nanoTime() - t) / 1e9
        require(top.exists(_.getLong(
          top.head.schema.fieldIndex("doc_id")) == 2L * b),
          s"bm25 probe lost doc ${2L * b}")
        println(f"STAGE bm25_search_$label%-9s term=alpha$b%-9s opened=${openedFiles(search)}%5d sec=$sec%6.2f")
      }
      tgt
    }

    val capped = run("capped", 8)
    run("uncapped", 0)

    // ---- forget-at-scale on the capped target ------------------------
    def layersOnDisk(tgt: String): Int =
      Seq("postings", "df").map { sd =>
        val (g, d) = graft.streaming.Streams.compactionsOf(spark, tgt, sd)
        g.length + d.length
      }.sum + graft.streaming.Streams.snapshotVersionsOf(spark, capped).length
    val total = layersOnDisk(capped)
    val doomed = Seq(2L, 3L, batches.toLong) // batches 1 and B/2
    val t2 = System.nanoTime()
    val rewritten = graft.streaming.Streams.bm25IndexDelete(
      spark, capped, doomed)
    val delS = (System.nanoTime() - t2) / 1e9
    println(f"STAGE bm25_forget           ids=${doomed.length}%2d layersRewritten=$rewritten%3d layersOnDisk=$total%4d sec=$delS%7.2fs")
    // invariants: the forgotten doc's unique term finds nothing; stats
    // decremented by exactly the doomed count
    val gone = graft.streaming.Streams.bm25SearchMaintained(spark, capped,
      Seq((1L, "alpha1")).toDF("query_id", "qtext"), k = 5)
      .filter(col("doc_id") === 2L)
    require(gone.isEmpty, "forgotten doc still ranked")
    val v = graft.streaming.Streams.snapshotVersionsOf(spark, capped).max
    val nDocs = spark.read.parquet(s"$capped/v=$v/stats")
      .head.getLong(0)
    require(nDocs == 2L * batches - doomed.length,
      s"stats not decremented exactly: $nDocs")
    println(f"STAGE bm25_forget_verify    nDocs=$nDocs%7d expected=${2L * batches - doomed.length}%7d")

    Console.out.flush()
    Runtime.getRuntime.halt(0)
  }
}
