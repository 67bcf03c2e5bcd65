package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.types.StructType

/** Spark internals graft reaches from inside Spark's package. */
object GraftFrames {

  /** A frame whose plan reads `rows` itself, with no row-converting RDD
    * in between: the package-private constructor Spark's own
    * checkpointing uses. A caller may hand in a view of a pinned RDD (as
    * `Fixpoint.Scope.messages` does); the frame's LogicalRDD is then the
    * view, and the pin sits in its lineage. */
  def fromInternal(spark: SparkSession, rows: RDD[InternalRow],
                   schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** A Catalyst expression as a Column, and a Column's expression: how
    * operators build graft's native kernels with no function lookup. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Drop RDD `id`'s blocks and its persistence entry without
    * `RDD.unpersist`'s warning for locally checkpointed RDDs. */
  def unpersist(sc: SparkContext, id: Int): Unit = sc.unpersistRDD(id, blocking = false)

  /** The error ANSI division by zero raises (DIVIDE_BY_ZERO), for a
    * kernel that evaluates a `/` of a plan it replaced. */
  def divideByZero(): ArithmeticException = QueryExecutionErrors.divideByZeroError(null)
}
