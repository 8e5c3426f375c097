package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.connector.read.PartitionReaderFactory
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Minimal Column ⇄ Expression bridge.
  *
  * Spark 4 made `Column` wrap a connect-compatible `ColumnNode` and
  * hid the Expression accessors behind `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`,
  * columnNodeSupport.scala). Libraries that ship custom Catalyst
  * expressions with a Column-level API (Delta, Sedona, Frameless all
  * do the same) bridge via a one-file object in the
  * `org.apache.spark.sql` namespace. This is the entire shim:
  * delegating defs, plus Spark's own parquet reader for a scan planned
  * outside a file index (it needs the session state).
  */
package object graftbridge {

  /** Wrap a Catalyst expression as a user-facing Column. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Unwrap a (classic-session) Column to its Catalyst expression. */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Unwrap a Column to an EAGERLY-converted Catalyst expression tree.
    * [[expression]] returns a lazy `ColumnNodeExpression` wrapper that
    * only the analyzer unpacks — fine inside a plan that will be
    * analyzed, but it is NOT a real catalyst tree (pattern matches on
    * e.g. SortOrder miss) and it captures non-serializable ColumnNode
    * internals. Code that inspects or ships the expression itself must
    * use this converter instead. */
  def convertedExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** The analyzed logical plan behind a DataFrame (resolved
    * attributes with stable exprIds — what a custom logical operator
    * must be built over). */
  def analyzed(df: DataFrame): catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** Wrap a logical plan back into a DataFrame on the given session. */
  def ofRows(spark: SparkSession,
             plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Spark's own parquet reader (vectorized, footer read once per
    * file, missing columns null-filled) for an externally planned
    * file scan: rows are `readDataSchema ++ partitionSchema`, the
    * partition values coming from each `PartitionedFile`. Built by
    * Spark's `ParquetScan`, so the reader's Hadoop conf is set up by
    * Spark alone; its file index is never listed, only the factory is
    * taken. The conf is broadcast once per call. */
  def parquetReaderFactory(spark: SparkSession, dataSchema: StructType,
                           readDataSchema: StructType,
                           partitionSchema: StructType): PartitionReaderFactory = {
    val session = spark.asInstanceOf[classic.SparkSession]
    ParquetScan(session, session.sessionState.newHadoopConf(),
      new InMemoryFileIndex(session, Nil, Map.empty, None),
      dataSchema, readDataSchema, partitionSchema, Array.empty,
      CaseInsensitiveStringMap.empty()).createReaderFactory()
  }
}
