package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/**
 * Column ↔ Catalyst Expression bridge for Spark 4.x.
 *
 * Spark 4 routes Column through ColumnNode (connect-compatible API) and the
 * converters live behind `private[sql]`; a library defining custom Catalyst
 * expressions needs this one-file shim inside the org.apache.spark.sql
 * namespace — the same pattern Spark-native extension libraries use.
 */
object GraftShim {
  def expr(c: Column): Expression = ExpressionUtils.expression(c)
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** `s` with every field, array element and map value nullable — the
    * schema Spark's parquet writer stores and its reader returns. */
  def asNullable(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = s.asNullable

  /** The error ANSI `element_at` raises for an index past the array's
    * end (INVALID_ARRAY_INDEX_IN_ELEMENT_AT). */
  def elementAtIndexError(index: Int, numElements: Int): Throwable =
    org.apache.spark.sql.errors.QueryExecutionErrors
      .invalidElementAtIndexError(index, numElements, null)

  /** Register a scalar expression builder as a SQL function. */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "scala_udf")

  /**
   * Release the storage blocks behind a `localCheckpoint()`ed frame.
   *
   * `Dataset.unpersist` only talks to the CacheManager, which never sees
   * checkpoint RDDs — so an eager localCheckpoint pins its blocks until
   * the JVM happens to GC the Dataset reference and the ContextCleaner
   * catches up. In a long-lived session (a nightly dedup tenant, the
   * per-round bench) that lag is executor-memory pressure for whatever
   * runs next. This walks the frame's logical plan for the `LogicalRDD`
   * node a checkpoint leaves behind and unpersists its RDD directly.
   *
   * ONLY call it on a frame whose checkpointed contents are no longer
   * needed by ANY live plan: a localCheckpoint truncates lineage, so a
   * later action on a dependent frame cannot recompute and fails with a
   * missing-block error. (Callers in `Dedup.connectedComponents` free
   * each intermediate only after its successor is itself materialized.)
   */
  def freeLocalCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.logical.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
