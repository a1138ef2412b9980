package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** Minimal bridge into Spark's `private[sql]` surface, required at the
  * two V1 streaming API gaps (declaring this small object inside the
  * `org.apache.spark.sql` package is the established out-of-tree-source
  * idiom; nothing else reaches through the boundary):
  *
  *  - the graft V1 streaming SOURCE: `MicroBatchExecution` asserts that
  *    the DataFrame a V1 `Source.getBatch` returns is tagged
  *    `isStreaming = true`, and such a frame can only be built over a
  *    streaming `LogicalRDD` (what `SparkSession.internalCreateDataFrame`
  *    builds with `isStreaming=true`) — `private[sql]` with no public
  *    equivalent. The frame carries
  *    the caller's size `stats`: without them a streaming relation
  *    estimates `spark.sql.defaultSizeInBytes` (Long.MaxValue), and
  *    every size-conditioned decision downstream of the micro-batch
  *    (`foreachBatch` frames inherit the estimate) sees an unbounded
  *    batch;
  *  - the graft V1 streaming SINK: `Sink.addBatch`'s DataFrame still
  *    has streaming leaves (a fresh action throws
  *    CALL_ON_STREAMING_DATASET_UNSUPPORTED), so its already-planned
  *    `queryExecution.toRdd` must be re-wrapped as a BATCH frame. The
  *    public route (`createDataFrame(RDD[Row])`) costs a per-row
  *    InternalRow→Row deserialize + re-serialize on the continuous
  *    ingest hot path; wrapping the InternalRow RDD directly keeps the
  *    micro-batch write zero-copy end-to-end. */
object GraftSqlBridge {
  def streamingDataFrame(sqlContext: SQLContext, rows: RDD[InternalRow],
      schema: StructType, stats: Statistics): DataFrame = {
    val spark = sqlContext.sparkSession.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(spark, LogicalRDD(DataTypeUtils.toAttributes(schema),
      rows, isStreaming = true)(spark, Some(stats)))
  }

  def batchDataFrame(spark: SparkSession,
      rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rows, schema, isStreaming = false)

  /** A Column over a raw catalyst Expression (the public Column
    * constructor from Expression was removed in Spark 4; classic
    * sessions route through `ExpressionUtils.column`). Lets operator
    * code apply a native codegen'd predicate like
    * [[graft.plans.DvRowDeleted]] with ordinary DataFrame combinators. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** Wrap a surgically built logical plan as a DataFrame
    * (`Dataset.ofRows` is `private[sql]`). Used by the streaming
    * source's deletion-vector rewrite, which injects the codegen'd
    * dead-row filter into an already-analyzed scan plan. */
  def dataFrame(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `schema` with every field, element and value nullable
    * (`StructType.asNullable` is `private[spark]`): the schema Spark's
    * file writers write. */
  def asNullable(schema: StructType): StructType = schema.asNullable
}
