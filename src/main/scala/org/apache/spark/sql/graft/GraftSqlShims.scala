package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}

/** The one compiler-permission shim the custom-operator tier needs:
  * `Dataset.ofRows` (LogicalPlan → DataFrame) is `private[sql]`, so the
  * bridge lives under `org.apache.spark.sql` — the documented pattern for
  * third-party Catalyst operators (same access scope the built-in DSv2
  * connectors use). No Spark internals are modified. */
object GraftSqlShims {

  /** Wrap a resolved logical plan as a DataFrame on this session. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)

  /** The analyzed logical plan of a DataFrame. */
  def analyzed(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  /** Wrap an RDD of InternalRows as a DataFrame WITHOUT the external-Row
    * round trip (`createDataFrame(RDD[Row])` decodes and re-encodes every
    * row through the RowEncoder): the Tungsten-representation bridge for
    * operators that compute on `queryExecution.toRdd`. Rows must conform
    * to `schema` (trusted, as with Spark's own internal uses). */
  def internalCreateDataFrame(
      spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[ClassicSparkSession].internalCreateDataFrame(rdd, schema)
}
