package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
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

  /** `df`'s rows, computed by a static plan: the physical plan its own
    * session prepares without adaptive execution, the way Spark prepares
    * a subquery's. No conf is written, so every other query on the
    * session, on this thread or another, plans as it would have. (A
    * clone of the session with AQE off plans the same, but each clone's
    * tasks compile the query's generated classes again.) */
  def collectStatic(df: DataFrame): Array[Row] = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    val toRow = ExpressionEncoder(df.schema).resolveAndBind().createDeserializer()
    // with the session's conf and class loader, as its own queries run:
    // Spark caches generated classes per class loader
    session.withActive(session.artifactManager.withResources(
      SQLExecution.withSQLConfPropagated(session) {
        QueryExecution.prepareExecutedPlan(session, df.queryExecution.sparkPlan)
          .executeCollect().map(toRow)
      }))
  }

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
