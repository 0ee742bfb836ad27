package graft.catalog

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{AliasHelper, And, Attribute, AttributeReference, BasePredicate, BindReferences, DynamicPruning, EqualTo, Expression, InterpretedUnsafeProjection, Literal, NamedExpression, PlanExpression, Predicate, PredicateHelper, SortOrder, Unevaluable, UnsafeRow}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition, UnknownPartitioning}
import org.apache.spark.sql.catalyst.util.truncatedString
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.execution.{ExplainUtils, LeafExecNode, SQLExecution, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graftshim.DriverCollect
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.{DoubleType, FloatType}

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
  *    (DPP included), a nondeterministic or an unevaluable expression.
  *
  * An index probe — a `LeftSemi` join whose right side such a scan
  * serves — plans as [[GraftLocalProbeExec]] under the same switch
  * (see [[probe]] for its firing conditions). */
object GraftLocalReadStrategy extends SparkStrategy
    with PredicateHelper with AliasHelper {

  private def interpretable(e: Expression): Boolean =
    e.deterministic && !e.exists {
      case _: PlanExpression[_] | _: DynamicPruning => true
      case _: Attribute => false
      case _: Unevaluable => true
      case _ => false
    }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] =
    if (!GraftAccel.on(GraftAccel.LocalRead)) Nil
    else plan match {
      case PhysicalOperation(project, filters,
          Join(left, right, LeftSemi, Some(cond), _)) =>
        probe(project, filters, left, right, cond).toList
      case _ => localScan(plan).toList
    }

  private def localScan(plan: LogicalPlan): Option[GraftLocalScanExec] =
    plan match {
      case PhysicalOperation(project, filters,
          rel @ DataSourceV2ScanRelation(_, scan: GraftScan, output, None, _))
          if filters.nonEmpty &&
            (project ++ filters).forall(interpretable) &&
            scan.localReadable =>
        Some(GraftLocalScanExec(project, filters.reduce(And), output, scan,
          rel.ordering.getOrElse(Nil)))
      case _ => None
    }

  /** An index probe ([[GraftIndexRewrite]]'s `LeftSemi` shape) or any
    * semi join of that shape: the left side a row-scan of a graft table
    * whose every key column is equated, attribute to attribute, with
    * the right side; the right side a scan [[localScan]] serves. The
    * Project and Filter above the join fold through the left side's
    * aliases into [[GraftLocalProbeExec]]. The left side's DPP filter
    * is dropped: the node hands the probe's key set to the base scan
    * itself. Float keys are refused: their join equality is not the
    * binary equality of the key set. */
  private def probe(project: Seq[NamedExpression], filters: Seq[Expression],
      left: LogicalPlan, right: LogicalPlan, cond: Expression)
      : Option[GraftLocalProbeExec] = left match {
    case PhysicalOperation(lproj, lfilters,
        DataSourceV2ScanRelation(_, base: GraftScan, output, None, _))
        if !base.rowLevel =>
      val aliases = getAliasMap(lproj)
      val proj = project.map(replaceAliasButKeepName(_, aliases))
      val conds = lfilters.filterNot(_.isInstanceOf[DynamicPruning]) ++
        filters.map(replaceAlias(_, aliases))
      // (left, right) attribute of each join conjunct
      val pairs = splitConjunctivePredicates(cond).map {
        case EqualTo(a: Attribute, b: Attribute) =>
          if (left.outputSet.contains(a) && right.outputSet.contains(b))
            Some(a -> b)
          else if (left.outputSet.contains(b) && right.outputSet.contains(a))
            Some(b -> a)
          else None
        case _ => None
      }
      // each left attribute, through the left side's aliases, a column
      // of the base scan
      val baseKeys = pairs.flatten.flatMap { case (l, _) =>
        replaceAlias(l, aliases) match {
          case a: Attribute => output.find(_.exprId == a.exprId)
          case _ => None
        }
      }
      val everyKey = pairs.forall(_.isDefined) &&
        baseKeys.length == pairs.length &&
        baseKeys.map(_.name.toLowerCase).sorted ==
          base.keyCols.map(_.toLowerCase).sorted
      if (!everyKey || baseKeys.exists(a =>
          a.dataType == FloatType || a.dataType == DoubleType) ||
        !(proj ++ conds).forall(interpretable)) None
      else localScan(right).map(child =>
        GraftLocalProbeExec(proj, conds.reduceOption(And)
          .getOrElse(Literal.TrueLiteral), output, base, baseKeys,
          pairs.map(_.get._2), child))
    case _ => None
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
    val pred = GraftLocalRead.predicate(condition, scanOutput)
    val proj = GraftLocalRead.projection(projectList, scanOutput)
    val (out, rowsRead) = GraftLocalRead.readParts(
      scan.createReaderFactory(), inputPartitions, pred.eval, proj, limit)
    metrics("numOutputRows") += rowsRead
    GraftLocalRead.postMetrics(sparkContext, metrics, scan)
    out
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


/** A semi join of a graft base table against a driver-served key set —
  * the index probe [[GraftIndexRewrite]] plans — with the Filter and
  * Project above it, served on the driver. `child` (the probe side, a
  * [[GraftLocalScanExec]], so the plan still names the index table)
  * is collected with no job; its keys reach the base [[GraftScan]]
  * through the runtime-filter entry `GraftScan.filter` (one `In` per
  * key column: region re-pruning and parquet `In` predicates, as a DPP
  * filter would); each base row is then kept iff it passes `condition`
  * and its key is in the probe's key set (exact membership on the
  * binary key row). When the re-pruned regions fit the driver-read
  * bound ([[GraftScan.fitsDriverRead]]) the base is read on the driver
  * with [[GraftLocalScanExec]]'s loop — no broadcast, DPP, job or
  * compile; otherwise the same loop runs in exactly one job over the
  * re-pruned partitions. Nothing is read at planning.
  *
  * Metrics: the base scan's region metrics after re-pruning,
  * `numOutputRows` as the rows its readers produced, and `probeKeys`,
  * the distinct keys handed to the base scan. */
case class GraftLocalProbeExec(
    projectList: Seq[NamedExpression],
    condition: Expression,
    scanOutput: Seq[AttributeReference],
    @transient scan: GraftScan,
    baseKeys: Seq[AttributeReference],
    probeKeys: Seq[Attribute],
    child: SparkPlan) extends UnaryExecNode with DriverCollect {

  override def output: Seq[Attribute] = projectList.map(_.toAttribute)

  /** The partition count is known only after the runtime re-prune. */
  override def outputPartitioning: Partitioning = UnknownPartitioning(0)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext,
      "number of output rows"),
    "regionsTotal" -> SQLMetrics.createMetric(sparkContext,
      "manifest regions (total)"),
    "regionsScanned" -> SQLMetrics.createMetric(sparkContext,
      "regions after pruning"),
    "readPartitions" -> SQLMetrics.createMetric(sparkContext,
      "packed read tasks"),
    "probeKeys" -> SQLMetrics.createMetric(sparkContext,
      "probe keys handed to the base scan"))

  /** The base read, planned at execution: the re-pruned partitions,
    * their reader factory, the probe's key set, and whether the
    * partitions fit the driver-read bound. */
  private case class BaseRead(parts: Seq[InputPartition],
      factory: PartitionReaderFactory, keys: java.util.HashSet[UnsafeRow],
      local: Boolean)

  /** Collects the probe keys and hands them to the base scan. */
  private def planBaseRead(): BaseRead = {
    val keyOf = GraftLocalRead.projection(probeKeys, child.output)
    val keys = new java.util.HashSet[UnsafeRow]()
    child.executeCollect().foreach { row =>
      val k = keyOf(row).asInstanceOf[UnsafeRow]
      if (!k.anyNull) keys.add(k.copy())
    }
    val runtime: Array[sources.Filter] = baseKeys.indices.map { i =>
      val dt = baseKeys(i).dataType
      val values = mutable.LinkedHashSet.empty[Any]
      keys.forEach(k => values += CatalystTypeConverters
        .convertToScala(k.get(i, dt), dt))
      sources.In(baseKeys(i).name, values.toArray): sources.Filter
    }.toArray
    scan.filter(runtime)
    metrics("probeKeys").set(keys.size.toLong)
    BaseRead(scan.planInputPartitions().toSeq, scan.createReaderFactory(),
      keys, scan.fitsDriverRead)
  }

  private def readLocal(b: BaseRead, limit: Int): Seq[Array[InternalRow]] = {
    val (keep, proj) = GraftLocalProbeExec.rowFns(condition, baseKeys,
      projectList, scanOutput, b.keys)
    val (out, rowsRead) =
      GraftLocalRead.readParts(b.factory, b.parts, keep, proj, limit)
    metrics("numOutputRows") += rowsRead
    GraftLocalRead.postMetrics(sparkContext, metrics, scan)
    out
  }

  /** The over-bound read: the same loop, one task per re-pruned
    * partition (with its locality), in the one job the caller runs. */
  private def readDistributed(b: BaseRead): RDD[InternalRow] = {
    GraftLocalRead.postMetrics(sparkContext, metrics, scan)
    val BaseRead(_, factory, keys, _) = b
    val (cond, keyExprs, projExprs, input) =
      (condition, baseKeys, projectList, scanOutput)
    val rowsRead = metrics("numOutputRows")
    sparkContext.makeRDD(b.parts.map(p => p -> p.preferredLocations().toSeq))
      .mapPartitions { parts =>
        val (keep, proj) = GraftLocalProbeExec.rowFns(cond, keyExprs,
          projExprs, input, keys)
        val (out, n) = GraftLocalRead.readParts(factory, parts.toSeq, keep,
          proj, Int.MaxValue)
        rowsRead += n
        out.iterator.flatMap(_.iterator)
      }
  }

  private def collectUpTo(limit: Int): Array[InternalRow] = {
    val b = planBaseRead()
    if (b.local) readLocal(b, limit).flatten.toArray
    else readDistributed(b).collect().take(limit)
  }

  override def executeCollect(): Array[InternalRow] =
    collectUpTo(Int.MaxValue)
  override def executeTake(limit: Int): Array[InternalRow] =
    collectUpTo(limit)
  override def executeTail(limit: Int): Array[InternalRow] =
    executeCollect().takeRight(limit)

  override protected def doExecute(): RDD[InternalRow] = {
    val b = planBaseRead()
    if (!b.local) readDistributed(b)
    else {
      val parts = readLocal(b, Int.MaxValue)
      sparkContext.parallelize(parts, parts.length max 1).flatMap(_.iterator)
    }
  }

  private def keyString: String =
    baseKeys.zip(probeKeys).map { case (b, p) => s"$b = $p" }
      .mkString("[", ", ", "]")

  override def verboseStringWithOperatorId(): String =
    s"""
       |$formattedNodeName
       |${ExplainUtils.generateFieldString("Output", output)}
       |Scan: ${scan.tableName}
       |Keys: $keyString
       |Condition : $condition
       |""".stripMargin

  override def simpleString(maxFields: Int): String =
    s"GraftLocalProbe ${scan.tableName} " +
      truncatedString(output, "[", ", ", "]", maxFields) +
      s" keys=$keyString filter=$condition"

  override protected def withNewChildInternal(newChild: SparkPlan)
      : GraftLocalProbeExec = copy(child = newChild)
}

object GraftLocalProbeExec {
  /** The per-row test (`condition` and key-set membership) and the
    * projection over the base scan's rows, built where they run. */
  def rowFns(condition: Expression, keys: Seq[Expression],
      project: Seq[Expression], input: Seq[Attribute],
      keySet: java.util.HashSet[UnsafeRow])
      : (InternalRow => Boolean, InternalRow => InternalRow) = {
    val pred = GraftLocalRead.predicate(condition, input)
    val keyOf = GraftLocalRead.projection(keys, input)
    val proj = GraftLocalRead.projection(project, input)
    (row => pred.eval(row) && keySet.contains(keyOf(row)), proj)
  }
}

/** The driver-side read loop shared by [[GraftLocalScanExec]],
  * [[GraftLocalProbeExec]] (whose over-bound path runs the same loop
  * inside its tasks) and `RegionStore.get`: interpreted filter and
  * projection, nothing compiled. */
private[graft] object GraftLocalRead {

  def predicate(condition: Expression, input: Seq[Attribute])
      : BasePredicate = {
    val p = Predicate.createInterpreted(
      BindReferences.bindReference(condition, input))
    p.initialize(0)
    p
  }

  def projection(exprs: Seq[Expression], input: Seq[Attribute])
      : InternalRow => UnsafeRow = {
    val p = InterpretedUnsafeProjection.createProjection(
      exprs.map(BindReferences.bindReference(_, input)))
    p.initialize(0)
    row => p(row)
  }

  /** Reads partitions in order until `limit` rows are kept: one array
    * per partition read, and the rows the readers produced. */
  def readParts(factory: PartitionReaderFactory, parts: Seq[InputPartition],
      keep: InternalRow => Boolean, proj: InternalRow => InternalRow,
      limit: Int): (Seq[Array[InternalRow]], Long) = {
    val out = Seq.newBuilder[Array[InternalRow]]
    var n = 0
    var rowsRead = 0L
    val it = parts.iterator
    while (n < limit && it.hasNext) {
      val part = mutable.ArrayBuffer.empty[InternalRow]
      rowsRead += readPartition(factory, it.next(), keep, proj, limit - n,
        part)
      n += part.length
      out += part.toArray
    }
    (out.result(), rowsRead)
  }

  /** Reads one partition through the scan's columnar reader, appending
    * the projected copy of each row that passes `keep` to `out` until
    * `limit` rows are kept. Returns the rows the reader produced. */
  private def readPartition(factory: PartitionReaderFactory,
      part: InputPartition, keep: InternalRow => Boolean,
      proj: InternalRow => InternalRow, limit: Int,
      out: mutable.ArrayBuffer[InternalRow]): Long = {
    var rowsRead = 0L
    val reader = factory.createColumnarReader(part)
    try {
      while (out.length < limit && reader.next()) {
        val rows = reader.get().rowIterator()
        while (out.length < limit && rows.hasNext) {
          val row = rows.next()
          rowsRead += 1
          if (keep(row)) out += proj(row).copy()
        }
      }
    } finally reader.close()
    rowsRead
  }

  /** Sets the scan's region metrics and posts the node's driver-side
    * metric updates to the running execution. */
  def postMetrics(sc: SparkContext, metrics: Map[String, SQLMetric],
      scan: GraftScan): Unit = {
    scan.reportDriverMetrics().foreach(m => metrics(m.name()).set(m.value()))
    SQLMetrics.postDriverMetricUpdates(sc,
      sc.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), metrics.values.toSeq)
  }
}
