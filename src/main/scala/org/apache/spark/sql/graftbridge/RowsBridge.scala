package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's private[sql] `Dataset.ofRows`: a DataFrame over an
  * `RDD[InternalRow]` whose `LogicalRDD` carries statistics the caller
  * measured. `createDataFrame(RDD[Row])` leaves the plan without
  * statistics, so the optimizer reads its size as
  * `spark.sql.defaultSizeInBytes` and every size-driven decision
  * downstream (broadcast, file counts) sees an unbounded table.
  */
object RowsBridge {
  def fromInternalRows(session: SparkSession, schema: StructType, rows: RDD[InternalRow],
                       rowCount: BigInt, sizeInBytes: BigInt): DataFrame = {
    val s = session.asInstanceOf[classic.SparkSession]
    val plan = LogicalRDD(DataTypeUtils.toAttributes(schema), rows)(
      s, Some(Statistics(sizeInBytes, Some(rowCount))), None)
    classic.Dataset.ofRows(s, plan)
  }
}
