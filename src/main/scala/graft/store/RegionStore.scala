package graft.store

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.LocalFrame
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._
import graft.catalog.{GraftAccel, GraftInputPartition, GraftLocalRead, GraftReaderFactory}
import graft.codec.KeyCodec
import graft.prune.KeyRanges

/** Key-sorted region store over Parquet.
  *
  * Capability port of the reference's storage model (Heracles: HBase
  * regions keyed by an order-preserving composite row key, bulk-loaded
  * via shuffle-ordered HFiles — /root/reference `HBaseCatalog.loadTable`,
  * `HBasePartitioner.scala`, `HBaseRelation.scala`) re-expressed in
  * Spark's own execution model:
  *
  *  - "region" = one Parquet file covering a contiguous composite-key
  *    range, produced by `repartitionByRange` (range shuffle = the
  *    reference's HBasePartitioner) + `sortWithinPartitions` (= HFile
  *    key order);
  *  - the region manifest (per-file per-dimension min/max in encoded-hex)
  *    plays `getAllRegionLocations`;
  *  - scan-time pruning intersects the predicate's per-dimension interval
  *    sets ([[KeyRanges]]) with region bounds — the reference's
  *    critical-point partition pruning;
  *  - below the region cut, Parquet row-group stats + predicate pushdown
  *    take the role of the server-side FilterList/skip-scan.
  *
  * At cluster scale nothing here is driver-bound except the manifest
  * (one row per region — thousands, not billions) and pruning is O(
  * regions × intervals).
  */
object RegionStore {

  private val ManifestDir = "_graft_manifest"

  final case class Region(file: String, rows: Long,
      mins: Seq[Array[Byte]], maxs: Seq[Array[Byte]])

  final case class Manifest(keyCols: Seq[(String, DataType)],
      schemaJson: String, regions: Seq[Region])

  /** Spark-collected stat value → codec-space value (Catalyst internal
    * conventions: date = days, timestamp = µs since epoch UTC). */
  private def toCodecValue(dt: DataType, v: Any): Any = (dt, v) match {
    case (DateType, d: java.sql.Date) => d.toLocalDate.toEpochDay.toInt
    case (DateType, d: java.time.LocalDate) => d.toEpochDay.toInt
    case (TimestampType, t: java.sql.Timestamp) =>
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    case (TimestampType, t: java.time.Instant) =>
      t.getEpochSecond * 1000000L + t.getNano / 1000L
    case _ => v
  }

  // ------------------------------------------------------------- bulk load

  /** Range-shuffle + sort + write: the LOAD DATA path. One output file
    * per region, globally ordered by the composite key.
    *
    * Manifest stats (per-file rows + key min/max) come from the parquet
    * footers — O(files) metadata reads, never a second pass over the
    * data (at 100 TB a read-back would double ingest IO). Footer
    * min/max may be widened (truncated binary stats) or absent (NaN
    * floats, INT96): widened bounds stay sound for pruning; absent ones
    * fall back to a targeted single-file aggregation. */
  def bulkLoad(df: DataFrame, keyCols: Seq[String], dir: String,
      numRegions: Int): Unit = {
    val spark = df.sparkSession
    val schema = df.schema
    keyCols.foreach { k =>
      val f = schema(k)
      require(KeyCodec.supportedTypes.contains(f.dataType),
        s"key column $k has unsupported type ${f.dataType}")
    }
    val keyExprs = keyCols.map(col)
    // INT96 timestamps carry no usable stats; micros do
    val tsConf = "spark.sql.parquet.outputTimestampType"
    val savedTs = spark.conf.getOption(tsConf)
    spark.conf.set(tsConf, "TIMESTAMP_MICROS")
    try {
      df.filter(keyCols.map(col(_).isNotNull).reduce(_ && _))
        .repartitionByRange(numRegions, keyExprs: _*)
        .sortWithinPartitions(keyExprs: _*)
        .write.mode("overwrite").parquet(dir)
    } finally savedTs match {
      case Some(v) => spark.conf.set(tsConf, v)
      case None => spark.conf.unset(tsConf)
    }

    val keyTypes = keyCols.map(schema(_).dataType)
    // Enumerate through the Hadoop FileSystem API, not java.io.File —
    // the region dir may be hdfs:// or s3a:// at cluster scale.
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(hadoopConf)
    val files = fs.listStatus(dirPath)
      .filter(st => st.isFile &&
        st.getPath.getName.startsWith("part-") &&
        st.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
    val rows = files.toSeq.flatMap { st =>
      val (n, minsMaxs) = footerStats(st.getPath, hadoopConf,
        keyCols, keyTypes)
      if (n == 0) None
      else {
        val (mins, maxs) = minsMaxs.getOrElse(fileAgg(spark,
          st.getPath.toString, keyCols, keyTypes))
        Some((st.getPath.getName, n, mins, maxs,
          keyCols.zip(keyTypes).map { case (k, dt) => s"$k:${dt.json}" },
          schema.json))
      }
    }

    import spark.implicits._
    rows.toDF("file", "rows", "minHex", "maxHex", "keyCols", "schemaJson")
      .coalesce(1)
      .write.mode("overwrite").json(s"$dir/$ManifestDir")
  }

  /** Footer read: (row count, per-key (minHex, maxHex)) — None for the
    * stats when any key column lacks exact-enough footer statistics. */
  private def footerStats(path: org.apache.hadoop.fs.Path,
      hadoopConf: org.apache.hadoop.conf.Configuration, keyCols: Seq[String],
      keyTypes: Seq[DataType]): (Long, Option[(Seq[String], Seq[String])]) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val in = HadoopInputFile.fromPath(path, hadoopConf)
    val r = ParquetFileReader.open(in)
    try {
      val blocks = r.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      if (rows == 0) return (0L, None)
      val perKey = keyCols.zip(keyTypes).map { case (k, dt) =>
        val colStats = blocks.map(_.getColumns.asScala
          .find(_.getPath.toDotString.equalsIgnoreCase(k))
          .map(_.getStatistics).orNull)
        if (colStats.exists(s => s == null || s.isEmpty ||
          !s.hasNonNullValue)) None
        else {
          val encs = colStats.map { s =>
            (statValue(dt, s.genericGetMin), statValue(dt, s.genericGetMax))
          }
          for {
            mins <- sequence(encs.map(_._1))
            maxs <- sequence(encs.map(_._2))
          } yield (
            mins.map(KeyCodec.encode(dt, _)).min(byteOrdering),
            maxs.map(KeyCodec.encode(dt, _)).max(byteOrdering))
        }
      }
      if (perKey.forall(_.isDefined)) {
        val ms = perKey.map(_.get)
        (rows, Some((ms.map(m => KeyCodec.toHex(m._1)),
          ms.map(m => KeyCodec.toHex(m._2)))))
      } else (rows, None)
    } finally r.close()
  }

  private val byteOrdering: Ordering[Array[Byte]] =
    Ordering.fromLessThan((a, b) => KeyCodec.compare(a, b) < 0)

  private def sequence[T](xs: Seq[Option[T]]): Option[Seq[T]] =
    if (xs.forall(_.isDefined)) Some(xs.map(_.get)) else None

  /** Parquet footer stat value → codec-space value for `dt`. */
  private def statValue(dt: DataType, v: Any): Option[Any] = (dt, v) match {
    case (StringType, b: org.apache.parquet.io.api.Binary) =>
      Some(b.toStringUsingUTF8)
    case (ByteType, i: java.lang.Integer) => Some(i.toByte)
    case (ShortType, i: java.lang.Integer) => Some(i.toShort)
    case (IntegerType | DateType, i: java.lang.Integer) => Some(i.toInt)
    case (LongType | TimestampType, l: java.lang.Long) => Some(l.toLong)
    case (FloatType, f: java.lang.Float) if !f.isNaN => Some(f.toFloat)
    case (DoubleType, d: java.lang.Double) if !d.isNaN => Some(d.toDouble)
    case (BooleanType, b: java.lang.Boolean) => Some(b.booleanValue)
    case _ => None
  }

  /** Targeted fallback: aggregate one file's key min/max (only when its
    * footer stats are unusable — NaN keys or exotic encodings). */
  private def fileAgg(spark: SparkSession, path: String, keyCols: Seq[String],
      keyTypes: Seq[DataType]): (Seq[String], Seq[String]) = {
    val aggs = keyCols.flatMap(k =>
      Seq(min(col(k)).as(s"min_$k"), max(col(k)).as(s"max_$k")))
    val r = spark.read.parquet(path).agg(aggs.head, aggs.tail: _*)
      .collect().head
    val mins = keyCols.zip(keyTypes).map { case (k, dt) =>
      KeyCodec.toHex(KeyCodec.encode(dt,
        toCodecValue(dt, r.getAs[Any](s"min_$k"))))
    }
    val maxs = keyCols.zip(keyTypes).map { case (k, dt) =>
      KeyCodec.toHex(KeyCodec.encode(dt,
        toCodecValue(dt, r.getAs[Any](s"max_$k"))))
    }
    (mins, maxs)
  }

  // -------------------------------------------------------------- manifest

  /** The manifest is the JSON-lines dir `bulkLoad` writes (one object
    * per region); parsed on the driver with Jackson — no schema
    * inference, no Spark job. Listed through the Hadoop FileSystem API
    * so the region dir may live on any Hadoop filesystem. */
  def readManifest(spark: SparkSession, dir: String): Manifest = {
    import scala.jdk.CollectionConverters._
    val mdir = new org.apache.hadoop.fs.Path(s"$dir/$ManifestDir")
    val fs = mdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val rows = fs.listStatus(mdir).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)
      .flatMap { st =>
        val in = fs.open(st.getPath)
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .filter(_.trim.nonEmpty).map(mapper.readTree).toList
        finally in.close()
      }
    require(rows.nonEmpty, s"empty region manifest under $dir")
    def strs(n: com.fasterxml.jackson.databind.JsonNode, field: String)
        : Seq[String] = n.get(field).elements().asScala.map(_.asText).toSeq
    val keyCols = strs(rows.head, "keyCols").map { s =>
      val i = s.indexOf(':')
      (s.substring(0, i),
        DataType.fromJson(s.substring(i + 1)))
    }
    val schemaJson = rows.head.get("schemaJson").asText
    val regions = rows.map { r =>
      Region(r.get("file").asText, r.get("rows").asLong,
        strs(r, "minHex").map(KeyCodec.fromHex),
        strs(r, "maxHex").map(KeyCodec.fromHex))
    }
    Manifest(keyCols, schemaJson, regions)
  }

  // ------------------------------------------------------------------ scan

  final case class ScanInfo(selected: Int, total: Int, pointLookup: Boolean)

  /** Resolve a Column predicate against the table schema: the Column DSL
    * yields unresolved ColumnNode trees in Spark 4, so run the analyzer
    * over an empty relation and pull the resolved Filter condition
    * (complete with the analyzer's implicit casts). */
  private def resolvePredicate(spark: SparkSession, schema: StructType,
      pred: Column): Option[org.apache.spark.sql.catalyst.expressions.Expression] = {
    val probe = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    probe.filter(pred).queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }
  }

  /** Pruned scan: interval-analyze the predicate, keep only overlapping
    * regions, read those Parquet files (Spark still pushes the predicate
    * into row-group/page pruning below us), apply it as residual. */
  def scanWithInfo(spark: SparkSession, dir: String,
      predicate: Option[Column]): (DataFrame, ScanInfo) =
    scanManifest(spark, dir, readManifest(spark, dir), predicate)

  private def scanManifest(spark: SparkSession, dir: String, m: Manifest,
      predicate: Option[Column]): (DataFrame, ScanInfo) = {
    val dims = m.keyCols.zipWithIndex.map { case ((n, dt), i) =>
      n.toLowerCase -> (i, dt)
    }.toMap
    val tableSchema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    val constraints = predicate
      .flatMap(p => resolvePredicate(spark, tableSchema, p))
      .map(e => KeyRanges.analyze(e, dims))
      .getOrElse(Map.empty)
    val isPoint = constraints.nonEmpty &&
      m.keyCols.indices.forall(d => constraints.get(d).exists(ivs =>
        ivs.nonEmpty && ivs.forall(iv =>
          iv.lo.isDefined && iv.hi.isDefined && iv.loInc && iv.hiInc &&
            KeyCodec.compare(iv.lo.get, iv.hi.get) == 0)))
    val survivors = m.regions.filter(r =>
      KeyRanges.survives(constraints, r.mins, r.maxs))
    val base =
      if (survivors.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          tableSchema)
      else
        spark.read.schema(tableSchema)
          .parquet(survivors.map(r => s"$dir/${r.file}"): _*)
    val out = predicate.map(base.filter).getOrElse(base)
    (out, ScanInfo(survivors.size, m.regions.size, isPoint))
  }

  def scan(spark: SparkSession, dir: String,
      predicate: Option[Column] = None): DataFrame =
    scanWithInfo(spark, dir, predicate)._1

  /** Point-lookup fast path (the reference's multi-Get): equality on the
    * full key. With `spark.graft.accel.localRead` on, a get whose key
    * values carry the key columns' own types reads the surviving
    * region(s) on the driver ([[driverGet]]); otherwise it plans the
    * pruned scan. */
  def get(spark: SparkSession, dir: String, keyValues: Seq[Any]): DataFrame = {
    val m = readManifest(spark, dir)
    driverGet(spark, dir, m, keyValues).getOrElse {
      val pred = m.keyCols.zip(keyValues)
        .map { case ((n, _), v) => col(n) === lit(v) }
        .reduce(_ && _)
      scanManifest(spark, dir, m, Some(pred))._1
    }
  }

  /** A get served on the driver: the full-key point is encoded directly
    * (no analyzer pass over the predicate), pruned against the region
    * bounds — one region survives in the disjoint range layout
    * `bulkLoad` writes — and, when the surviving files fit Spark's
    * one-file open cost (`spark.sql.files.openCostInBytes`, the bound
    * [[graft.catalog.GraftLocalScanExec]] uses), read with the catalog
    * region reader and filtered by exact key equality. The rows come
    * back as a `LocalRelation`-backed DataFrame, so collecting it runs
    * no job. None when the switch is off, a value is null or not of
    * its key column's type (equality would need a cast), a key is a
    * float (its SQL equality is not value equality), or the bound is
    * exceeded. */
  private def driverGet(spark: SparkSession, dir: String, m: Manifest,
      keyValues: Seq[Any]): Option[DataFrame] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    if (!GraftAccel.on(GraftAccel.LocalRead) ||
      keyValues.length != m.keyCols.length) return None
    val point = m.keyCols.zip(keyValues).map { case ((_, dt), v) =>
      scala.util.Try(Literal(v)).toOption
        .filter(l => l.value != null && l.dataType == dt &&
          dt != FloatType && dt != DoubleType)
        .map(_.value)
    }
    if (point.exists(_.isEmpty)) return None
    val values = point.map(_.get)
    val constraints = m.keyCols.indices.map { d =>
      val b = KeyCodec.encode(m.keyCols(d)._2, values(d))
      d -> List(KeyRanges.Iv(Some(b), loInc = true, Some(b), hiInc = true))
    }.toMap
    val survivors = m.regions.filter(r =>
      KeyRanges.survives(constraints, r.mins, r.maxs))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val paths = survivors.map(r => s"$dir/${r.file}")
    val conf = org.apache.spark.sql.internal.SQLConf.get
    if (paths.map(p => fs.getFileStatus(
        new org.apache.hadoop.fs.Path(p)).getLen).sum >
      conf.filesOpenCostInBytes) return None
    val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    val keyOrdinals = m.keyCols.map { case (n, _) => schema.fieldIndex(n) }
    val factory = GraftReaderFactory(schema.json,
      m.keyCols.zip(keyValues).map { case ((n, _), v) =>
        sources.EqualTo(n, v): sources.Filter }.toArray,
      conf.sessionLocalTimeZone, conf.caseSensitiveAnalysis)
    val (rows, _) = GraftLocalRead.readParts(factory,
      survivors.zip(paths).map { case (r, p) =>
        GraftInputPartition(Array(p), r.rows) },
      row => keyOrdinals.indices.forall(d =>
        row.get(keyOrdinals(d), m.keyCols(d)._2) == values(d)),
      identity, Int.MaxValue)
    Some(LocalFrame(spark, schema, rows.flatten))
  }
}
