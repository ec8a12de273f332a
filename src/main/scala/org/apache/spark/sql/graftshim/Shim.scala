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
