package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{classic, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types.StructType

/** A DataFrame over rows already read on the driver, planned as a
  * `LocalRelation`: collecting it runs no job. The schema is made
  * nullable, as a file source's read schema is. `Dataset.ofRows` and
  * `StructType.asNullable` are not public, so this lives under
  * org.apache.spark. */
object LocalFrame {
  def apply(spark: SparkSession, schema: StructType,
      rows: Seq[InternalRow]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema.asNullable), rows))
}
