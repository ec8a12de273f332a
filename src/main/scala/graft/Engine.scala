package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the graft engine.
  *
  * Mirrors the reference's `ExecutionEnvironment`/`StreamExecutionEnvironment`
  * pair (reference: ExecutionEnviromentreadTextFile创建DataSource分析.md:3-9,53-96)
  * with a single session: batch = `spark.read`, streaming = `spark.readStream`
  * (the translateForBatch/translateForStreaming split, flink_arch.drawio page
  * "StreamGraph-JobGraph-ExecutorGraph生成过程", is Spark's read/readStream split).
  *
  * Config choices are 100TB-cluster-minded, tested on local[N]:
  *  - AQE on: runtime shuffle-partition coalescing + skew-join splitting.
  *  - shuffle.partitions small locally (driver sets ~#cores); on a real
  *    cluster this is overridden by AQE's coalescing from a high initial.
  *  - parquet nanosAsLong: the `events` table carries TIMESTAMP(NANOS),
  *    which Spark's vectorized reader otherwise rejects.
  */
object Engine {
  def defaultCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def session(appName: String = "graft", cpus: String = defaultCpus): SparkSession = {
    val spark = SparkSession
      .builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // RDD-path shuffles (PageRank's co-partitioned loop, typed Flow
      // ops) serialize records through spark.serializer; the Java
      // default costs ~µs/object on small tuples where Kryo is several
      // times cheaper. SQL exchanges use UnsafeRow regardless, so this
      // only speeds the RDD paths up. Standard production setting.
      .config("spark.serializer", sys.env.getOrElse("SPARK_GRAFT_SERIALIZER",
        "org.apache.spark.serializer.KryoSerializer"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // guide §3.1: SHJ via the AQE rewrite ONLY. Round 14 also set the
      // static preferSortMergeJoin=false; round 15 A/B'd it at sf0.1
      // with no-SHJ control queries and the delta was indistinguishable
      // from the ±25% window noise, while the static flip carries a real
      // scale risk (it picks SHJ from size ESTIMATES and SHJ's build
      // side does not spill — a mis-estimate OOMs where SMJ degrades).
      // The AQE threshold below rewrites SMJ->SHJ from REAL post-shuffle
      // partition sizes — per-partition, scale-safe by construction —
      // so small builds still get the sort-free join. Env-overridable.
      .config("spark.sql.join.preferSortMergeJoin",
        sys.env.getOrElse("SPARK_GRAFT_PREFER_SMJ", "true"))
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        sys.env.getOrElse("SPARK_GRAFT_SHJ_THRESHOLD", "134217728"))
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.filterPushdown", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.streaming.Streams.trackLateRows(spark)
    spark
  }

  /** Route streaming keyed state to the embedded-RocksDB provider — the
    * reference's "rocksDB state backend" (flink_arch.drawio page "Flink
    * memory"): state lives off the JVM heap in native memory + local
    * disk, so executor heap no longer bounds keyed-state size. At 100TB
    * keyed-state scale this is the only viable backend; the default
    * HDFS-backed provider keeps every key on-heap. Session-wide conf —
    * call before starting queries. Reversible via
    * [[useDefaultStateStore]]. */
  def useRocksDBStateStore(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // Bound RocksDB NATIVE memory (off-heap, invisible to -Xmx): without
    // this every state partition's instance sizes its own write buffers
    // and block cache independently, and N queries x P partitions can
    // exhaust native memory (observed: std::bad_alloc killing the bench
    // JVM at teardown). boundedMemoryUsage routes all instances through
    // one shared LRUCache capped at maxMemoryUsageMB — the same knob a
    // production cluster needs so state memory is budgeted per executor
    // rather than per partition.
    spark.conf.set("spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage", "true")
    spark.conf.set("spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB", "1024")
    // Changelog checkpointing: each commit durably writes the batch's
    // CHANGES instead of snapshotting the whole RocksDB instance into
    // the checkpoint — the production setting for RocksDB state at
    // scale (snapshot cost grows with STATE size, changelog cost with
    // BATCH size; recovery replays snapshot + changelogs). Same
    // exactly-once contract, same state contents (StreamingSpec runs
    // both providers); env-overridable for A/B.
    spark.conf.set("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      sys.env.getOrElse("SPARK_GRAFT_ROCKSDB_CHANGELOG", "true"))
    spark
  }

  /** Back to the default HDFS-backed (on-heap) state store provider. */
  def useDefaultStateStore(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    spark
  }

  /** Ensure an externally-created session can read the nanos-timestamp
    * `events` parquet and counts late rows over a query's lifetime
    * (`Streams.lateRowsDropped`); safe to call repeatedly. */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    graft.streaming.Streams.trackLateRows(spark)
    spark
  }
}
