package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType

/** The `private[sql]` doorway to `SparkSession.internalCreateDataFrame`,
  * a DataFrame over an `RDD[InternalRow]` with no encoder round trip:
  *  - a v1 `Source.getBatch` must return a DataFrame whose logical plan is
  *    marked `isStreaming = true` (MicroBatchExecution asserts it);
  *  - the engine runs each row of a batch through a per-partition step
  *    (schema inference) on its way into the clustering pass.
  * Same-package shim, nothing else reaches in. */
object GraftSqlShims {
  def streamingDataFrame(
      spark: classic.SparkSession,
      rdd: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.internalCreateDataFrame(rdd, schema, isStreaming = true)

  /** `df`'s rows as a DataFrame over the RDD that computes them: every
    * query that reads the result reuses the exchanges under `df` (under
    * adaptive execution they run here). */
  def fromRdd(df: DataFrame): DataFrame = mapPartitionsInternal(df, identity)

  /** `df`'s rows with each partition passed through `f`, same schema.
    * `df` is planned as a SQL execution of its own (named `graft.rows`):
    * the exchanges and broadcasts that adaptive execution runs while
    * planning it are reported to QueryExecutionListeners and the SQL UI
    * like any action's, with their plan and metrics. The jobs that later
    * read the returned frame belong to the queries that read it. */
  def mapPartitionsInternal(df: DataFrame,
      f: Iterator[InternalRow] => Iterator[InternalRow]): DataFrame = {
    val qe = df.queryExecution
    val rows = SQLExecution.withNewExecutionId(qe, Some("graft.rows"))(qe.toRdd)
    df.sparkSession.asInstanceOf[classic.SparkSession].internalCreateDataFrame(
      rows.mapPartitions(f), df.schema)
  }
}
