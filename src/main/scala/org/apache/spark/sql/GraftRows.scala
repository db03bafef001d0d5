package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StructType

/** Compile-time doorway to `SparkSession.internalCreateDataFrame`
  * (`private[sql]`): wraps an `RDD[InternalRow]` as a DataFrame without
  * the per-row/per-field external-Row conversion that
  * `createDataFrame(RDD[Row], schema)` pays (CatalystTypeConverters
  * dispatch on every field, `Row.fromSeq` boxing on every row). The
  * planner puts an `RDDScanExec` over the RDD, which applies one
  * `UnsafeProjection` per row — so the rows we hand over may be any
  * `InternalRow` implementation (`JoinedRow`, `GenericInternalRow`)
  * holding INTERNAL values (UTF8String, not String).
  *
  * Used by [[graft.ops.Prefix]]'s two-pass prefix kernels, whose pass-2
  * output is a k-long append to rows that already live in the internal
  * format; anything else should keep using the public constructors.
  *
  * `ofRows` is the same doorway to `Dataset.ofRows`: a DataFrame over a
  * logical plan holding graft's own nodes (`graft.plans.BucketPairs`),
  * which the public API cannot build.
  */
object GraftRows {
  def internalDataFrame(
      spark: SparkSession,
      rdd: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = false)

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
