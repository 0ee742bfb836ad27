package graft.catalog

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, BindReferences, DynamicPruning, Expression, InterpretedUnsafeProjection, NamedExpression, PlanExpression, Predicate, SortOrder, Unevaluable}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition, UnknownPartitioning}
import org.apache.spark.sql.catalyst.util.truncatedString
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.execution.{ExplainUtils, LeafExecNode, SQLExecution, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graftshim.DriverCollect

/** Plans small key-addressed graft scans as [[GraftLocalScanExec]]:
  * the Project and Filter above a [[GraftScan]] fold into one leaf that
  * reads the surviving regions on the driver. A primary-key get then
  * costs planning plus a few ms of parquet decode, instead of a Spark
  * job (scheduling, two Janino compiles for the fresh literal, task
  * launch) — the short-circuit Krypton (VLDB 2023) uses to serve point
  * lookups next to analytics in one engine.
  *
  * Fires only when all of these hold, else the stock V2 strategy plans
  * a `BatchScanExec` as before:
  *  - `spark.graft.accel.localRead` is on ([[GraftAccel.LocalRead]]);
  *  - [[GraftScan.localReadable]]: not a row-level (group mode) scan,
  *    the pushed filters bound a key interval, and the selected region
  *    files total at most `spark.sql.files.openCostInBytes`;
  *  - the scan reports no key-grouped partitioning (a `regionSplits`
  *    table with bucketed regions): storage-partitioned joins and
  *    windows over it stay exchange-free only on `BatchScanExec`;
  *  - the Filter carrying the pushed predicates is absorbed (a
  *    nondeterministic condition stops `PhysicalOperation` short of
  *    the scan), and no absorbed filter or projection holds a subquery
  *    (DPP included), a nondeterministic or an unevaluable expression. */
object GraftLocalReadStrategy extends SparkStrategy {

  private def interpretable(e: Expression): Boolean =
    e.deterministic && !e.exists {
      case _: PlanExpression[_] | _: DynamicPruning => true
      case _: Attribute => false
      case _: Unevaluable => true
      case _ => false
    }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalOperation(project, filters,
        rel @ DataSourceV2ScanRelation(_, scan: GraftScan, output, None, _))
        if filters.nonEmpty && GraftAccel.on(GraftAccel.LocalRead) &&
          (project ++ filters).forall(interpretable) && scan.localReadable =>
      GraftLocalScanExec(project, filters.reduce(And), output, scan,
        rel.ordering.getOrElse(Nil)) :: Nil
    case _ => Nil
  }
}

/** A key-addressed graft scan with its Filter and Project, served on
  * the driver. Nothing is read at planning: EXPLAIN and
  * `CALL graft.sys.scan_estimate` stay IO-free. At execution the scan's
  * own [[GraftReaderFactory]] opens the planned partitions on the
  * driver — the same pruning, parquet predicates and metadata columns
  * as a task would use — and the residual filter and projection run
  * interpreted. `executeCollect`/`executeTake`/`executeTail` (and a
  * broadcast of this node) therefore submit no job and compile no
  * code; `doExecute` hands parents that
  * need an RDD the same rows, partitioned as the scan plans them.
  *
  * Metrics match `BatchScanExec` over a [[GraftScan]]: the scan's
  * region metrics, and `numOutputRows` counting the rows the region
  * readers produced (before the absorbed filter), so per-layer ledgers
  * read both paths alike. */
case class GraftLocalScanExec(
    projectList: Seq[NamedExpression],
    condition: Expression,
    scanOutput: Seq[AttributeReference],
    @transient scan: GraftScan,
    keyOrdering: Seq[SortOrder]) extends LeafExecNode with DriverCollect {

  override def output: Seq[Attribute] = projectList.map(_.toAttribute)

  /** The read partitions, as a `BatchScanExec` would schedule them —
    * driver-side manifest work, no data IO. */
  @transient lazy val inputPartitions: Seq[InputPartition] =
    scan.planInputPartitions().toSeq

  /** `doExecute` keeps the scan's read partitions as RDD partitions,
    * row for row, so operators above see exactly what they would see
    * over a `BatchScanExec` — and the scan's in-partition key order
    * (reported only when each partition holds one region file) holds. */
  private def numPartitions: Int = inputPartitions.length max 1

  override def outputPartitioning: Partitioning =
    if (numPartitions == 1) SinglePartition
    else UnknownPartitioning(numPartitions)

  /** The key order survives the projection as far as its leading key
    * columns are output unchanged. */
  override def outputOrdering: Seq[SortOrder] =
    keyOrdering.takeWhile(_.child match {
      case a: Attribute => outputSet.contains(a)
      case _ => false
    })

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext,
      "number of output rows"),
    "regionsTotal" -> SQLMetrics.createMetric(sparkContext,
      "manifest regions (total)"),
    "regionsScanned" -> SQLMetrics.createMetric(sparkContext,
      "regions after pruning"),
    "readPartitions" -> SQLMetrics.createMetric(sparkContext,
      "packed read tasks"))

  /** Reads partitions in order until `limit` rows pass the filter;
    * returns them projected and copied, one array per partition read. */
  private def read(limit: Int): Seq[Array[InternalRow]] = {
    val bind = (e: Expression) => BindReferences.bindReference(e, scanOutput)
    val pred = Predicate.createInterpreted(bind(condition))
    pred.initialize(0)
    val proj = InterpretedUnsafeProjection.createProjection(
      projectList.map(bind))
    proj.initialize(0)
    val factory = scan.createReaderFactory()
    val out = Seq.newBuilder[Array[InternalRow]]
    var n = 0
    var rowsRead = 0L
    val parts = inputPartitions.iterator
    while (n < limit && parts.hasNext) {
      val part = Array.newBuilder[InternalRow]
      val reader = factory.createColumnarReader(parts.next())
      try {
        while (n < limit && reader.next()) {
          val rows = reader.get().rowIterator()
          while (n < limit && rows.hasNext) {
            val row = rows.next()
            rowsRead += 1
            if (pred.eval(row)) {
              part += proj(row).copy()
              n += 1
            }
          }
        }
      } finally reader.close()
      out += part.result()
    }
    metrics("numOutputRows") += rowsRead
    scan.reportDriverMetrics().foreach(m => metrics(m.name()).set(m.value()))
    val executionId =
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY)
    SQLMetrics.postDriverMetricUpdates(sparkContext, executionId,
      metrics.values.toSeq)
    out.result()
  }

  override def executeCollect(): Array[InternalRow] =
    read(Int.MaxValue).flatten.toArray
  override def executeTake(limit: Int): Array[InternalRow] =
    read(limit).flatten.toArray
  override def executeTail(limit: Int): Array[InternalRow] =
    executeCollect().takeRight(limit)

  /** One slice per read partition (`parallelize` cuts n elements into
    * n slices one apiece), each task shipping only its own rows. */
  override protected def doExecute(): RDD[InternalRow] = {
    val parts =
      read(Int.MaxValue).padTo(numPartitions, Array.empty[InternalRow])
    sparkContext.parallelize(parts, parts.length).flatMap(_.iterator)
  }

  override def verboseStringWithOperatorId(): String =
    s"""
       |$formattedNodeName
       |${ExplainUtils.generateFieldString("Output", output)}
       |Scan: ${scan.description()}
       |Condition : $condition
       |""".stripMargin

  override def simpleString(maxFields: Int): String =
    s"GraftLocalScan ${scan.tableName} " +
      s"regions=${scan.selectedRegions.size} " +
      truncatedString(output, "[", ", ", "]", maxFields) +
      s" filter=$condition"
}
