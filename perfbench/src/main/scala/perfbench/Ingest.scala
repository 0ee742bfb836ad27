package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

import graft.catalog.TableMeta

/** Writes beside reads on one orders-shaped table that starts
  * bulk-loaded in 16 regions. Each cycle commits one INSERT batch (half
  * new keys past the tail, half new keys scattered into the gaps of the
  * existing key space) and then reads two keys: a just-written gap key
  * and a live key. Every 4th cycle a MERGE INTO upserts a batch; the
  * merge procedure runs on cycles 4 and 12, 20, … The four warm-up
  * cycles hold the one LOAD DATA, the one key-range DELETE and the first
  * (cold) merge, so a measured window holds alike cycles and one merge.
  * The generator keeps a model of every live row, which every read and
  * a final full-table checksum are checked against. */
final class Ingest(h: Harness, seed: Long) extends BaseWorkload(h, seed) {
  private val Batch = 1000
  private val UpsertEvery = 4
  private val MergeEvery = 8
  private val MergeTargetBytes = 512L << 10
  private def table = s"graft.$ns.ingest_t"
  def mainTable: String = s"$ns.ingest_t"

  private val model = mutable.LongMap[Long]() // live key -> row hash
  private val r = Inputs.rng(seed, "ingest.ops")
  private var tailKey = 0L
  private var csvPath: File = _
  private var csvRows = 0
  private var cycle = 0
  /** User rows committed by measured, untraced write statements. */
  private var measuredRows = 0L
  private def committed(n: Int): Unit = if (h.measuring && !h.tracing) measuredRows += n

  /** A key inside the base key space that no live row has; base keys
    * are 4i+1, so these land between existing keys. */
  private def gapKey(): Long = {
    var k = 0L
    while ({ k = 2 + r.nextLong(4L * Inputs.Orders - 2); model.contains(k) }) ()
    k
  }
  private def rowsFor(keys: Seq[Long]): Seq[Row] = keys.map(Inputs.orderRow(r, _))

  def prepare(): Unit = {
    useBase("orders")
    spark.read.parquet(BaseData.path(h.data, PointGet.ExpectOrders))
      .select("o_orderkey", "full_hash").collect()
      .foreach(row => model(row.getLong(0)) = row.getLong(1))
    // the LOAD DATA input: new keys just above the base key space
    val csvKeys = (1 to 5000).map(i => 4L * Inputs.Orders + 4L * i)
    tailKey = csvKeys.max
    val rows = rowsFor(csvKeys)
    csvPath = new File(h.work, "load.csv")
    Files.write(csvPath.toPath, Inputs.csv(rows).getBytes(StandardCharsets.UTF_8))
    csvRows = rows.length
    pendingCsv = rows
  }

  def setup(namespace: String): Unit = {
    ns = namespace
    h.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
    load(mainTable, "orders", "o_orderkey", 16)
  }
  private var pendingCsv: Seq[Row] = Nil
  /** Wall times of the one-off statements (ms). */
  private val oneOff = mutable.Map[String, Double]()

  private def view(rows: Seq[Row], name: String): Unit =
    spark.createDataFrame(rows.asJava, Inputs.OrdersSchema).createOrReplaceTempView(name)

  private def readKey(cls: String, k: Long): Unit =
    h.query(cls, s"SELECT * FROM $table WHERE o_orderkey = $k") { rows =>
      model.get(k) match {
        case Some(want) => rows.length == 1 && RowHash.of(rows(0)) == want
        case None => rows.isEmpty
      }
    }

  /** Commits one batch; returns one of its gap keys. */
  private def insertBatch(): Long = {
    val tail = (1 to Batch / 2).map(i => tailKey + 4L * i)
    tailKey = tail.last
    val gaps = mutable.LinkedHashSet[Long]()
    while (gaps.size < Batch / 2) gaps += gapKey()
    val rows = rowsFor(tail ++ gaps)
    encodeKeys(Seq(org.apache.spark.sql.types.LongType), Seq(tail.head))
    view(rows, "ingest_batch")
    h.write("insert")(h.sql(s"INSERT INTO $table SELECT * FROM ingest_batch"))
    rows.foreach(row => model(row.getLong(0)) = RowHash.of(row))
    committed(rows.length)
    gaps.toSeq(r.nextInt(gaps.size))
  }

  /** Upserts 100 existing keys and 100 new ones inside one ~2 % key
    * window, bounded on the target side so the merge prunes regions. */
  private def upsert(): Unit = {
    val lo = 1 + 4L * r.nextInt(Inputs.Orders * 49 / 50)
    val hi = lo + 4L * Inputs.Orders / 50
    val live = model.keys.filter(k => k >= lo && k <= hi).toIndexedSeq.sorted
    val upd = Seq.fill(100)(live(r.nextInt(live.length))).distinct
    val fresh = mutable.LinkedHashSet[Long]()
    while (fresh.size < 100) {
      val k = lo + 1 + r.nextLong(hi - lo - 1)
      if (!model.contains(k)) fresh += k
    }
    val rows = rowsFor(upd ++ fresh)
    view(rows, "ingest_upsert")
    val cols = Inputs.OrdersSchema.fieldNames
    h.write("merge_into")(h.sql(
      s"""MERGE INTO $table t USING ingest_upsert s
         |ON t.o_orderkey = s.o_orderkey AND t.o_orderkey BETWEEN $lo AND $hi
         |WHEN MATCHED THEN UPDATE SET ${cols.map(c => s"$c = s.$c").mkString(", ")}
         |WHEN NOT MATCHED THEN INSERT (${cols.mkString(", ")})
         |  VALUES (${cols.map("s." + _).mkString(", ")})""".stripMargin))
    rows.foreach(row => model(row.getLong(0)) = RowHash.of(row))
    committed(rows.length)
  }

  private def loadCsv(): Unit = {
    h.write("load_data")(h.sql(
      s"LOAD DATA LOCAL INPATH '${csvPath.getPath}' INTO TABLE $table"))
    pendingCsv.foreach(row => model(row.getLong(0)) = RowHash.of(row))
    committed(pendingCsv.length)
    pendingCsv = Nil
  }

  private def deleteRange(): Unit = {
    val lo = 1 + 4L * r.nextInt(Inputs.Orders - 300)
    val hi = lo + 4L * 250
    h.write("delete")(h.sql(
      s"DELETE FROM $table WHERE o_orderkey BETWEEN $lo AND $hi"))
    model.keys.filter(k => k >= lo && k <= hi).toList.foreach(model.remove)
  }

  /** One cycle; the first two also run the LOAD DATA and the DELETE. */
  def step(): Unit = {
    cycle += 1
    readKey("raw_get", insertBatch())
    val keys = model.keys.toIndexedSeq
    readKey("get", keys(r.nextInt(keys.length)))
    if (cycle == 1) { loadCsv(); oneOff("load_data") = h.lastMs }
    if (cycle == 2) { deleteRange(); oneOff("delete") = h.lastMs }
    if (cycle % UpsertEvery == 0) upsert()
    if (cycle % MergeEvery == MergeEvery / 2)
      h.write("merge")(h.sql(s"CALL graft.sys.merge(table => '$mainTable', target_bytes => ${MergeTargetBytes}L)"))
  }

  /** Four cycles: the one-off statements, the first upsert and merge. */
  def warmup(): Unit = (0 until UpsertEvery).foreach(_ => step())

  override def finish(): Unit = {
    val want = (model.size.toLong, model.values.foldLeft(0L)(_ + _))
    h.op("checksum", "setup") {
      val rows = h.sql(s"SELECT * FROM $table")
      (rows, rows.length.toLong)
    }(rows => RowHash.bag(rows) == want)
  }

  private def liveBytes: Long = {
    val dir = tableDir(mainTable)
    TableMeta.loadRegions(dir).map(reg => new File(dir, reg.file).length).sum
  }

  def endToEnd(): (Map[String, Metric], Map[String, Metric]) = {
    val writes = Seq("insert", "merge_into").flatMap(h.ms)
    val rowsPerS = measuredRows / (writes.sum / 1000)
    val classes = Seq("insert", "raw_get", "get")
    val n = classes.map(h.ms(_).length).sum.toLong
    val gated = Map(
      "p50_ms" -> p50("insert"),
      "geomean_ms" -> Metric(Stats.geomean(classes.map(c => p50(c).value)), "ms", n))
    val report = Map(
      "commit_p50_ms" -> p50("insert"), "raw_p50_ms" -> p50("raw_get"),
      "get_p50_ms" -> p50("get"),
      "ingest_rows_per_s" -> Metric(rowsPerS, "rows/s", writes.length),
      "bytes_per_row" -> Metric(liveBytes.toDouble / model.size, "B", model.size),
      "cycles" -> Metric(cycle, "count", cycle)) ++ tail("insert").map {
        case (k, v) => k.replace("insert", "commit") -> v } ++
      Seq("merge_into", "merge").filter(h.ms(_).nonEmpty).map(c => s"${c}_ms" -> p50(c)) ++
      oneOff.map { case (c, ms) => s"${c}_ms" -> Metric(ms, "ms", 1) }
    (gated, report)
  }

  /** Write-statement timings from every measured block, traced or not,
    * and the one-off statements. */
  override def layers(): Map[String, Metric] = {
    def all(c: String) = h.ms(c) ++ h.tracedSamples.get(c).toSeq.flatten
    Seq("merge", "merge_into").filter(all(_).nonEmpty).map { c =>
      s"${c}_ms" -> Metric(Stats.median(all(c)), "ms", all(c).length)
    }.toMap ++ oneOff.get("delete").map(ms => "delete_ms" -> Metric(ms, "ms", 1)) ++
      oneOff.get("load_data").map(ms =>
        "load_data_rows_per_s" -> Metric(csvRows / (ms / 1000), "rows/s", 1))
  }
}
