package org.apache.spark.sql.graftshim

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SparkPlan

/** For plans that produce their rows on the driver: a broadcast
  * exchange collects its build side through `executeCollectIterator`,
  * which is `private[spark]` (and by default runs a job), so the
  * override has to live under org.apache.spark. */
trait DriverCollect extends SparkPlan {
  override private[spark] def executeCollectIterator()
      : (Long, Iterator[InternalRow]) = {
    val rows = executeCollect()
    (rows.length.toLong, rows.iterator)
  }
}
