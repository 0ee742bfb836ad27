package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.Row

import graft.store.RegionStore

/** Key-addressed reads over ~64 static regions: primary-key gets, short
  * key ranges, composite-prefix scans, secondary-index probes and
  * RegionStore gets. Keys are uniform over all keys, so every query
  * text carries a fresh literal. Expected answers come from the source
  * parquet, read with plain Spark in setup. */
final class PointGet(h: Harness, seed: Long) extends BaseWorkload(h, seed) {
  private val Regions = 64
  private val RangeSpan = 32 // key units: ~8 orders per range
  def mainTable: String = s"$ns.orders_t"
  private var storeDir: File = _

  // expected answers, sorted by order key
  private var keys: Array[Long] = _
  private var fullHash: Array[Long] = _   // SELECT * row
  private var narrowHash: Array[Long] = _ // (o_orderkey, o_custkey, o_totalprice)
  private var byCust: Map[Long, (Long, Long)] = _
  private var lines: mutable.LongMap[(Long, Long)] = _

  import PointGet._

  def setup(namespace: String): Unit = {
    ns = namespace
    h.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
    h.setupStep("load_orders")(load(s"$ns.orders_t", "orders", "o_orderkey", Regions))
    h.setupStep("load_lineitem")(
      load(s"$ns.lineitem_t", "lineitem", "l_orderkey;l_linenumber", Regions))
    h.setupStep("index")(h.write("index")(h.sql(
      s"CALL graft.sys.index(table => '$ns.orders_t', column => 'o_custkey')")))
    storeDir = new File(h.work, s"$ns-store")
    h.setupStep("store_load")(h.write("store_load")(
      RegionStore.bulkLoad(spark.table("orders"), Seq("o_orderkey"), storeDir.getPath, Regions)))
  }

  def prepare(): Unit = {
    useBase("orders", "lineitem")
    val orders = spark.read.parquet(BaseData.path(h.data, ExpectOrders)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    keys = orders.map(_._1)
    fullHash = orders.map(_._3)
    narrowHash = orders.map(_._4)
    byCust = orders.groupBy(_._2).map { case (c, os) =>
      c -> (os.length.toLong, os.map(_._4).sum) }
    lines = mutable.LongMap[(Long, Long)]()
    spark.read.parquet(BaseData.path(h.data, ExpectLines)).collect()
      .foreach(r => lines(r.getLong(0)) = (r.getLong(1), r.getLong(2)))
  }

  private val r = Inputs.rng(seed, "point_get.ops")
  private def bagOf(rows: Array[Row]): (Long, Long) = RowHash.bag(rows)

  private def get(cls: String): Unit = {
    val i = r.nextInt(keys.length)
    val k = keys(i)
    val q = s"SELECT * FROM graft.$ns.orders_t WHERE o_orderkey = $k"
    h.query(cls, q)(rows =>
      rows.length == 1 && RowHash.of(rows(0)) == fullHash(i))
    keyLayers(s"$ns.orders_t", q, Seq(k))
  }

  private def range(): Unit = {
    val i = r.nextInt(keys.length)
    val (lo, hi) = (keys(i), keys(i) + RangeSpan)
    val q = s"SELECT $Narrow FROM graft.$ns.orders_t WHERE o_orderkey BETWEEN $lo AND $hi"
    var j = i
    var want = (0L, 0L)
    while (j < keys.length && keys(j) <= hi) {
      want = (want._1 + 1, want._2 + narrowHash(j)); j += 1
    }
    h.query("range", q)(bagOf(_) == want)
    keyLayers(s"$ns.orders_t", q, Seq(lo))
  }

  private def prefix(): Unit = {
    val k = keys(r.nextInt(keys.length))
    val q = s"SELECT $LineCols FROM graft.$ns.lineitem_t WHERE l_orderkey = $k"
    h.query("prefix", q)(bagOf(_) == lines(k))
    keyLayers(s"$ns.lineitem_t", q, Seq(k))
  }

  private def probe(): Unit = {
    val c = r.nextLong(Inputs.Customers) + 1
    val q = s"SELECT $Narrow FROM graft.$ns.orders_t WHERE o_custkey = $c"
    h.query("probe", q)(
      bagOf(_) == byCust.getOrElse(c, (0L, 0L)))
    if (h.tracing) {
      val plan = spark.sql(q).queryExecution.executedPlan.toString
      h.record("index_probe_fired", if (plan.contains("orders_t_idx_o_custkey")) 1 else 0)
    }
  }

  private def storeGet(): Unit = {
    val i = r.nextInt(keys.length)
    h.op("store_get") {
      val rows = RegionStore.get(spark, storeDir.getPath, Seq(keys(i))).collect()
      (rows, rows.length.toLong)
    }(rows => rows.length == 1 && RowHash.of(rows(0)) == fullHash(i))
    if (h.tracing) h.timeLayer("read_manifest_ms")(RegionStore.readManifest(spark, storeDir.getPath))
  }

  /** The op mix, 40 % gets and 15 % each of the others, as a fixed
    * interleaving, so every run's mix has the same shares; the keys are
    * what the seed draws. */
  private val Schedule = "GRGPXGSGRPGXSGPRGXSG"
  private var next = 0
  def step(): Unit = {
    Schedule(next % Schedule.length) match {
      case 'G' => get("get")
      case 'R' => range()
      case 'P' => prefix()
      case 'X' => probe()
      case 'S' => storeGet()
    }
    next += 1
  }

  def warmup(): Unit = {
    val end = System.nanoTime() + 2000000000L
    while (System.nanoTime() < end) step()
  }

  private val Classes = Seq("get", "range", "prefix", "probe", "store_get")

  def endToEnd(): (Map[String, Metric], Map[String, Metric]) = {
    val ops = Classes.map(h.ms(_).length).sum
    val secs = Classes.flatMap(h.ms).sum / 1000
    val gated = Map(
      "p50_ms" -> p50("get"),
      "geomean_ms" -> Metric(Stats.geomean(Classes.map(c => p50(c).value)), "ms", ops))
    val report = Map(
      "ops_per_s" -> Metric(ops / secs, "1/s", ops),
      "get_p50_ms" -> p50("get"), "range_p50_ms" -> p50("range"),
      "prefix_p50_ms" -> p50("prefix"), "probe_p50_ms" -> p50("probe"),
      "store_get_p50_ms" -> p50("store_get")) ++ tail("get")
    (gated, report)
  }

  override def layers(): Map[String, Metric] =
    (h.layerMean("index_probe_fired", "ratio") ++ h.layerMean("read_manifest_ms", "ms")).toMap
}

object PointGet {
  val Narrow = "o_orderkey, o_custkey, o_totalprice"
  val LineCols = "l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipdate"
  val ExpectOrders = "expect_orders"
  val ExpectLines = "expect_lines"

  /** Expected answers over the base tables, computed with plain Spark
    * when the base data is written: per order (key, customer, hash of
    * the full row, hash of the [[Narrow]] projection), and per order the
    * (count, hash sum) of its [[LineCols]] lineitem rows. Hashes are
    * taken where the rows are read, in parallel. */
  def expectations(spark: org.apache.spark.sql.SparkSession)
      : Seq[(String, org.apache.spark.sql.DataFrame)] = {
    import spark.implicits._
    val orders = spark.table("orders").rdd.map { r =>
      (r.getLong(0), r.getLong(1), RowHash.of(r), RowHash.of(Row(r.get(0), r.get(1), r.get(3))))
    }.toDF("o_orderkey", "o_custkey", "full_hash", "narrow_hash")
    val lines = spark.sql(s"SELECT $LineCols FROM lineitem").rdd
      .map(r => (r.getLong(0), (1L, RowHash.of(r))))
      .reduceByKey((a, b) => (a._1 + b._1, a._2 + b._2))
      .map { case (k, (n, h)) => (k, n, h) }.toDF("l_orderkey", "n", "hash_sum")
    Seq(ExpectOrders -> orders, ExpectLines -> lines)
  }
}
