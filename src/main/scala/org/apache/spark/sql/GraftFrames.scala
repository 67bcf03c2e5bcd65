package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Frames over an `RDD[InternalRow]` with no mapping RDD in between:
  * the package-private constructor Spark's own checkpointing uses. */
object GraftFrames {
  def fromInternal(spark: SparkSession, rows: RDD[InternalRow],
                   schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
}
