package perfbench

import graft.CanonHash

/** Analytic queries over the co-split orders/lineitem tables plus the
  * small dimension tables. Parameters are drawn once per run and every
  * sweep repeats the same texts, so compiled code and manifests stay
  * cached after warm-up. Each answer is checked against the canonical
  * hash of the same SQL over the plain parquet views, taken in setup. */
final class Olap(h: Harness, seed: Long) extends BaseWorkload(h, seed) {
  def mainTable: String = s"$ns.lineitem_t"
  private val p = Inputs.rng(seed, "olap.params")
  private val segment = Inputs.Segments(p.nextInt(Inputs.Segments.length))
  private val q3Day = 60 + p.nextInt(30)     // days after 1995-01-01
  private val q5Region = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")(p.nextInt(5))
  private val q5Year = 1993 + p.nextInt(5)
  private val q6Year = 1993 + p.nextInt(5)
  private val q6Disc = 2 + p.nextInt(8)      // hundredths
  private val q18Qty = 240 + p.nextInt(20)
  // ~10 % of the order-key space, so ~90 % of regions are pruned
  private val span = 4L * Inputs.Orders / 10
  private val rangeLo = 1 + 4L * p.nextInt(Inputs.Orders - Inputs.Orders / 10)
  private val topFrom = 1 + 4L * p.nextInt(Inputs.Orders / 2)

  /** name -> SQL over tables named by `t` (graft tables or parquet views). */
  private def queries(t: String => String): Seq[(String, String)] = Seq(
    "q1" ->
      s"""SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
         |  sum(l_extendedprice) AS sum_base,
         |  sum(l_extendedprice * (1 - l_discount)) AS sum_disc,
         |  sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
         |  avg(l_quantity) AS avg_qty, avg(l_discount) AS avg_disc, count(*) AS n
         |FROM ${t("lineitem")} WHERE l_shipdate <= DATE'1998-09-02'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q3" ->
      s"""SELECT l_orderkey, sum(l_extendedprice * (1 - l_discount)) AS revenue,
         |  o_orderdate, o_shippriority
         |FROM ${t("customer")} JOIN ${t("orders")} ON c_custkey = o_custkey
         |  JOIN ${t("lineitem")} ON l_orderkey = o_orderkey
         |WHERE c_mktsegment = '$segment'
         |  AND o_orderdate < date_add(DATE'1995-01-01', $q3Day)
         |  AND l_shipdate > date_add(DATE'1995-01-01', $q3Day)
         |GROUP BY l_orderkey, o_orderdate, o_shippriority
         |ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""".stripMargin,
    "q4" ->
      s"""SELECT o_orderpriority, count(DISTINCT o_orderkey) AS order_count
         |FROM ${t("orders")} JOIN ${t("lineitem")} ON l_orderkey = o_orderkey
         |WHERE o_orderdate >= DATE'$q5Year-04-01'
         |  AND o_orderdate < DATE'$q5Year-07-01' AND l_commitdate < l_receiptdate
         |GROUP BY o_orderpriority""".stripMargin,
    "q5" ->
      s"""SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS revenue
         |FROM ${t("customer")} JOIN ${t("orders")} ON c_custkey = o_custkey
         |  JOIN ${t("lineitem")} ON l_orderkey = o_orderkey
         |  JOIN ${t("supplier")} ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |  JOIN ${t("nation")} ON s_nationkey = n_nationkey
         |  JOIN ${t("region")} ON n_regionkey = r_regionkey
         |WHERE r_name = '$q5Region' AND o_orderdate >= DATE'$q5Year-01-01'
         |  AND o_orderdate < DATE'${q5Year + 1}-01-01'
         |GROUP BY n_name""".stripMargin,
    "q6" ->
      s"""SELECT sum(l_extendedprice * l_discount) AS revenue
         |FROM ${t("lineitem")}
         |WHERE l_shipdate >= DATE'$q6Year-01-01' AND l_shipdate < DATE'${q6Year + 1}-01-01'
         |  AND l_discount BETWEEN ${q6Disc - 1} / 100.0 AND ${q6Disc + 1} / 100.0
         |  AND l_quantity < 24""".stripMargin,
    "q18" ->
      s"""SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum(l_quantity) AS qty
         |FROM ${t("customer")} JOIN ${t("orders")} ON c_custkey = o_custkey
         |  JOIN ${t("lineitem")} ON l_orderkey = o_orderkey
         |WHERE o_orderkey IN (SELECT l_orderkey FROM ${t("lineitem")}
         |  GROUP BY l_orderkey HAVING sum(l_quantity) > $q18Qty)
         |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
         |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100""".stripMargin,
    "key_range_agg" ->
      s"""SELECT l_returnflag, count(*) AS n, sum(l_extendedprice) AS base,
         |  sum(l_quantity) AS qty
         |FROM ${t("lineitem")}
         |WHERE l_orderkey BETWEEN $rangeLo AND ${rangeLo + span}
         |GROUP BY l_returnflag""".stripMargin,
    "key_topn" ->
      s"""SELECT o_orderkey, o_custkey, o_totalprice FROM ${t("orders")}
         |WHERE o_orderkey >= $topFrom ORDER BY o_orderkey LIMIT 50""".stripMargin)

  private var texts: Seq[(String, String)] = Nil
  private var oracle: Map[String, String] = Map.empty

  private def canon(cols: Seq[String], rows: Array[org.apache.spark.sql.Row]): String =
    CanonHash.hashRows(cols, rows.toSeq)._2

  def prepare(): Unit = {
    useBase("region", "nation", "supplier", "customer", "orders", "lineitem")
    oracle = queries(identity).map { case (name, q) =>
      val df = spark.sql(q)
      name -> canon(df.columns.toSeq, df.collect())
    }.toMap
  }

  def setup(namespace: String): Unit = {
    ns = namespace
    h.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
    load(s"$ns.orders_t", "orders", "o_orderkey", 64)
    load(s"$ns.lineitem_t", "lineitem", "l_orderkey;l_linenumber", 64)
    load(s"$ns.customer_t", "customer", "c_custkey", 4)
    load(s"$ns.supplier_t", "supplier", "s_suppkey", 1)
    load(s"$ns.nation_t", "nation", "n_nationkey", 1)
    load(s"$ns.region_t", "region", "r_regionkey", 1)
    texts = queries(n => s"graft.$ns.${n}_t")
  }

  /** One sweep: every query once, in a fixed order. */
  def step(): Unit = {
    val t0 = System.nanoTime()
    texts.foreach { case (name, q) =>
      h.op(name) {
        val df = h.layer("spark.sql")(spark.sql(q))
        val rows = h.collect(df)
        ((df.columns.toSeq, rows), rows.length.toLong)
      } { case (cols, rows) => canon(cols, rows) == oracle(name) }
    }
    if (h.measuring && !h.tracing) sweeps += (System.nanoTime() - t0) / 1e6
    encodeKeys(Seq(org.apache.spark.sql.types.LongType), Seq(rangeLo))
  }
  private val sweeps = scala.collection.mutable.ArrayBuffer[Double]()

  def warmup(): Unit = step()

  def endToEnd(): (Map[String, Metric], Map[String, Metric]) = {
    val names = texts.map(_._1)
    val n = names.map(h.ms(_).length).sum.toLong
    val geo = Stats.geomean(names.map(q => p50(q).value))
    val sweep = Stats.median(sweeps.toSeq)
    val gated = Map(
      "p50_ms" -> Metric(sweep, "ms", sweeps.length),
      "geomean_ms" -> Metric(geo, "ms", n))
    val report = Map(
      "queries_per_s" -> Metric(names.length / (sweep / 1000), "1/s", n),
      "olap_geomean_s" -> Metric(geo / 1000, "s", n),
      "olap_sweep_s" -> Metric(sweep / 1000, "s", sweeps.length)) ++
      names.map(q => s"${q}_p50_ms" -> p50(q))
    (gated, report)
  }
}
