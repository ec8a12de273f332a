package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge to `private[sql]` surface the classic Column API
  * hides in Spark 4 (Column ⇄ catalyst Expression). Living in an
  * `org.apache.spark.sql` subpackage is the established pattern for
  * Spark extension libraries needing these two hooks; nothing else of
  * Spark's internals is touched.
  */
object Shim {
  type AbstractDataType = org.apache.spark.sql.types.AbstractDataType

  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  def ofRows(spark: SparkSession, plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Unpersist the block-manager storage behind a localCheckpoint'd
    * Dataset. `Dataset.unpersist` only knows the cache manager, so the
    * RDD blocks a localCheckpoint pinned are otherwise freed only when
    * the ContextCleaner GCs the reference — an iterative operator that
    * checkpoints per round must release superseded rounds itself or its
    * block-manager footprint grows linearly with iterations. */
  def unpersistLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.optimizedPlan.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }

  /** Task-side page size for spillable sorters (private[spark] on SparkEnv). */
  def pageSizeBytes: Long =
    org.apache.spark.SparkEnv.get.memoryManager.pageSizeBytes

  /** `a` widened by the fields `b` adds, the way parquet schema merging
    * combines footers (`StructType.merge`, the session's case
    * sensitivity); throws a SparkException when a type conflicts. */
  def mergeSchemas(a: org.apache.spark.sql.types.StructType,
                   b: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    a.merge(b, org.apache.spark.sql.internal.SQLConf.get.caseSensitiveAnalysis)

  def asNullable(s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    s.asNullable

  def schemaOf(attrs: Seq[org.apache.spark.sql.catalyst.expressions.Attribute]): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.catalyst.types.DataTypeUtils.fromAttributes(attrs)

  /** Writes `df` as parquet under `dir` (replacing it) the way Spark
    * writes a bucketed table, without a catalog table: every row goes to
    * file bucket `pmod(murmur3(keys), buckets)` — the bucket id is in
    * the file name — sorted by `keys` within its file. Returns the rows
    * written. */
  def writeBucketedParquet(df: DataFrame, dir: String, buckets: Int,
                           keys: Seq[String]): Long = {
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    val query = df.queryExecution.analyzed
    val cmd = InsertIntoHadoopFsRelationCommand(
      new org.apache.hadoop.fs.Path(dir), Map.empty,
      ifPartitionNotExists = false, partitionColumns = Nil,
      bucketSpec = Some(org.apache.spark.sql.catalyst.catalog.BucketSpec(
        buckets, keys, keys)),
      fileFormat = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
      options = Map.empty, query = query,
      mode = org.apache.spark.sql.SaveMode.Overwrite, catalogTable = None,
      fileIndex = None, outputColumnNames = query.output.map(_.name))
    // the command runs eagerly (adaptive execution wraps it); its
    // write metrics count the rows
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    ofRows(df.sparkSession, cmd).queryExecution.commandExecuted.collectFirst {
      case r: org.apache.spark.sql.catalyst.plans.logical.CommandResult =>
        helper.collectFirst(r.commandPhysicalPlan) {
          case w: org.apache.spark.sql.execution.command.DataWritingCommandExec =>
            w.metrics("numOutputRows").value
        }
    }.flatten.getOrElse(throw new IllegalStateException(
      s"bucketed write to $dir reported no row count"))
  }

  /** A parquet relation over already-listed layer directories — no
    * listing, no partition discovery — whose files
    * [[writeBucketedParquet]] wrote with the same `buckets` and `keys`:
    * its scan reports hash partitioning on `keys`, so a per-key
    * operator above it needs no exchange, and an equality or IN filter
    * on a single key reads only the matching buckets. */
  def bucketedParquet(spark: SparkSession,
                      layers: Seq[(org.apache.hadoop.fs.Path, Array[org.apache.hadoop.fs.FileStatus])],
                      schema: org.apache.spark.sql.types.StructType,
                      buckets: Int, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.execution.datasources._
    val listed = layers.toMap
    val cache = new FileStatusCache {
      override def getLeafFiles(path: org.apache.hadoop.fs.Path) = listed.get(path)
      override def putLeafFiles(path: org.apache.hadoop.fs.Path,
                                files: Array[org.apache.hadoop.fs.FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(spark, layers.map(_._1), Map.empty,
      Some(schema), cache, Some(PartitionSpec.emptySpec), None)
    val relation = HadoopFsRelation(index,
      new org.apache.spark.sql.types.StructType(), schema,
      Some(org.apache.spark.sql.catalyst.catalog.BucketSpec(buckets, keys, keys)),
      new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
      Map.empty)(spark)
    spark.baseRelationToDataFrame(relation)
  }

  /** A spill-capable row sorter with the prefix optimization disabled
    * (constant prefix → every comparison falls through to `ordering`). */
  def rowSorter(schema: org.apache.spark.sql.types.StructType,
                ordering: scala.math.Ordering[org.apache.spark.sql.catalyst.InternalRow]): org.apache.spark.sql.execution.UnsafeExternalRowSorter = {
    import org.apache.spark.sql.execution.UnsafeExternalRowSorter
    import org.apache.spark.util.collection.unsafe.sort.PrefixComparators
    val prefixComputer = new UnsafeExternalRowSorter.PrefixComputer {
      private val p = new UnsafeExternalRowSorter.PrefixComputer.Prefix
      override def computePrefix(row: org.apache.spark.sql.catalyst.InternalRow): UnsafeExternalRowSorter.PrefixComputer.Prefix = {
        p.value = 0L; p.isNull = false; p
      }
    }
    UnsafeExternalRowSorter.create(
      schema, ordering, PrefixComparators.LONG, prefixComputer, pageSizeBytes, false)
  }
}
