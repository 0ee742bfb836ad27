package perfbench

import java.math.{BigDecimal => JBigDecimal}
import java.util.SplittableRandom

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Every input the benchmark feeds the engine. The engine only ever
  * receives the SQL text and DataFrames built from these; it never
  * learns which workload is running.
  *
  * The base data is fixed, like a TPC-H dataset at one scale: the
  * TPC-H-shaped tables (generated once per build by Spark SQL from
  * [[BaseSeed]]) and the base document corpus. Everything a run draws
  * comes from `--seed`: key streams, query parameters, ingest batches,
  * the `LOAD DATA` CSV and the planted duplicate documents, each from
  * its own `SplittableRandom` stream. */
object Inputs {
  val BaseSeed = 42L
  val Orders = 150000
  val Customers = 15000
  val Suppliers = 1000
  val Parts = 20000
  /** One independent random stream per named use, so adding a draw to
    * one stream never shifts another. */
  def rng(seed: Long, stream: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ stream.hashCode.toLong)

  // ------------------------------------------------------------ base tables

  private val Nations = Seq("ALGERIA" -> 0, "ARGENTINA" -> 1, "BRAZIL" -> 1,
    "CANADA" -> 1, "EGYPT" -> 4, "ETHIOPIA" -> 0, "FRANCE" -> 3,
    "GERMANY" -> 3, "INDIA" -> 2, "INDONESIA" -> 2, "IRAN" -> 4, "IRAQ" -> 4,
    "JAPAN" -> 2, "JORDAN" -> 4, "KENYA" -> 0, "MOROCCO" -> 0,
    "MOZAMBIQUE" -> 0, "PERU" -> 1, "CHINA" -> 2, "ROMANIA" -> 3,
    "SAUDI ARABIA" -> 4, "VIETNAM" -> 2, "RUSSIA" -> 3,
    "UNITED KINGDOM" -> 3, "UNITED STATES" -> 1)
  private val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val ShipModes = Seq("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")

  private def pick(xs: Seq[String], h: String): String =
    xs.map(x => s"'$x'").mkString(s"element_at(array(", ", ",
      s"), CAST(pmod($h, ${xs.length}) + 1 AS INT))")
  private def cents(h: String, lo: Long, span: Long): String =
    s"CAST((CAST(pmod($h, $span) AS DECIMAL(14,0)) + $lo) / 100 AS DECIMAL(12,2))"

  /** name -> SELECT producing the table, in dependency order. Base
    * order keys are 4i+1, as sparse as TPC-H's, which leaves three free
    * keys in each gap for scattered ingest. `scale` divides the row
    * counts (1 = the benchmark's sizes; tests use a larger divisor). */
  def baseTableSql(seed: Long, scale: Int = 1): Seq[(String, String)] = {
    def h(col: String, salt: Int) = s"xxhash64($col, ${seed}L, $salt)"
    val nOrders = Orders / scale
    val nCust = Customers / scale
    Seq(
      "region" -> Regions.zipWithIndex.map { case (n, i) =>
        s"SELECT $i AS r_regionkey, '$n' AS r_name" }.mkString(" UNION ALL "),
      "nation" -> Nations.zipWithIndex.map { case ((n, r), i) =>
        s"SELECT $i AS n_nationkey, '$n' AS n_name, $r AS n_regionkey"
      }.mkString(" UNION ALL "),
      "supplier" ->
        s"""SELECT id + 1 AS s_suppkey, concat('Supplier#', id + 1) AS s_name,
           |  CAST(pmod(${h("id", 1)}, 25) AS INT) AS s_nationkey
           |FROM range($Suppliers)""".stripMargin,
      "customer" ->
        s"""SELECT id + 1 AS c_custkey, concat('Customer#', id + 1) AS c_name,
           |  CAST(pmod(${h("id", 2)}, 25) AS INT) AS c_nationkey,
           |  ${pick(Segments, h("id", 3))} AS c_mktsegment,
           |  ${cents(h("id", 4), -99999, 1099998)} AS c_acctbal
           |FROM range($nCust)""".stripMargin,
      "orders" ->
        s"""SELECT 4 * id + 1 AS o_orderkey,
           |  pmod(${h("id", 5)}, $nCust) + 1 AS o_custkey,
           |  ${pick(Seq("F", "O", "P"), h("id", 6))} AS o_orderstatus,
           |  ${cents(h("id", 7), 100000, 50000000)} AS o_totalprice,
           |  date_add(DATE'1992-01-01', CAST(pmod(${h("id", 8)}, 2405) AS INT)) AS o_orderdate,
           |  ${pick(Priorities, h("id", 9))} AS o_orderpriority,
           |  CAST(pmod(${h("id", 10)}, 2) AS INT) AS o_shippriority,
           |  concat('note ', hex(${h("id", 11)})) AS o_comment
           |FROM range($nOrders)""".stripMargin,
      // 1..7 lines per order (mean 4): 4 x orders lineitem rows
      "lineitem" ->
        s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity,
           |  CAST(l_quantity * price AS DECIMAL(12,2)) AS l_extendedprice,
           |  l_discount, l_tax,
           |  CASE WHEN l_receiptdate <= DATE'1995-06-17'
           |    THEN ${pick(Seq("A", "R"), h("l_orderkey", 20) + " + l_linenumber")}
           |    ELSE 'N' END AS l_returnflag,
           |  CASE WHEN l_shipdate > DATE'1995-06-17' THEN 'O' ELSE 'F' END AS l_linestatus,
           |  l_shipdate, l_commitdate, l_receiptdate, l_shipmode
           |FROM (
           |  SELECT o_orderkey AS l_orderkey, ln AS l_linenumber,
           |    pmod(${h("o_orderkey", 21)} + ln, $Parts) + 1 AS l_partkey,
           |    pmod(${h("o_orderkey", 22)} + ln, $Suppliers) + 1 AS l_suppkey,
           |    CAST(pmod(${h("o_orderkey", 23)} + ln, 50) + 1 AS DECIMAL(12,2)) AS l_quantity,
           |    ${cents(h("o_orderkey", 24) + " + ln", 90000, 110000)} AS price,
           |    ${cents(h("o_orderkey", 25) + " + ln", 0, 11)} AS l_discount,
           |    ${cents(h("o_orderkey", 26) + " + ln", 0, 9)} AS l_tax,
           |    date_add(o_orderdate, CAST(pmod(${h("o_orderkey", 27)} + ln, 121) + 1 AS INT)) AS l_shipdate,
           |    date_add(o_orderdate, CAST(pmod(${h("o_orderkey", 28)} + ln, 61) + 30 AS INT)) AS l_commitdate,
           |    date_add(o_orderdate, CAST(pmod(${h("o_orderkey", 27)} + ln, 121) + 1 +
           |      pmod(${h("o_orderkey", 29)} + ln, 30) + 1 AS INT)) AS l_receiptdate,
           |    ${pick(ShipModes, h("o_orderkey", 30) + " + ln")} AS l_shipmode
           |  FROM orders
           |  LATERAL VIEW explode(sequence(1, CAST(pmod(${h("o_orderkey", 31)}, 7) + 1 AS INT))) t AS ln
           |)""".stripMargin)
  }

  // ---------------------------------------------------- orders-shaped rows

  val OrdersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType, nullable = false),
    StructField("o_orderstatus", StringType, nullable = false),
    StructField("o_totalprice", DecimalType(12, 2), nullable = false),
    StructField("o_orderdate", DateType, nullable = false),
    StructField("o_orderpriority", StringType, nullable = false),
    StructField("o_shippriority", IntegerType, nullable = false),
    StructField("o_comment", StringType, nullable = false)))

  /** One orders row for `key`, drawn from `r`. Values use the external
    * types a collected Row carries, so the row hashes like a read-back. */
  def orderRow(r: SplittableRandom, key: Long): Row = Row(
    key, r.nextLong(Customers) + 1, Seq("F", "O", "P")(r.nextInt(3)),
    JBigDecimal.valueOf(r.nextLong(50000000L) + 100000L, 2),
    java.sql.Date.valueOf(java.time.LocalDate.of(1992, 1, 1)
      .plusDays(r.nextInt(2405).toLong)),
    Priorities(r.nextInt(Priorities.length)), r.nextInt(2),
    f"note ${r.nextLong()}%016X")

  /** `LOAD DATA` CSV text for rows (no header, comma-separated). */
  def csv(rows: Seq[Row]): String = rows.map(_.toSeq.map {
    case d: JBigDecimal => d.toPlainString
    case v => v.toString
  }.mkString(",")).mkString("", "\n", "\n")

  // ------------------------------------------------------------- documents

  final case class Doc(id: Long, text: String)
  /** A planted (source, copy) pair and how the copy was made
    * (`edit<rate>` or `exact`); checks recompute the pair's Jaccard. */
  final case class Planted(src: Long, copy: Long, kind: String)

  private def word(i: Int): String = {
    val sb = new StringBuilder
    var x = i + 1
    while (x > 0) { sb.append(('a' + x % 26).toChar); x /= 26 }
    sb.toString
  }
  private val Vocab = 20000
  /** Zipf-like draw over the vocabulary (rank ~ u^2), so common words
    * repeat across documents like real text. */
  private def draw(r: SplittableRandom): String = {
    val u = r.nextDouble()
    word((u * u * Vocab).toInt)
  }

  /** `n` base documents of 60-200 words (fixed), then copies planted
    * by `seed`: near-duplicates at a few word-substitution rates (some
    * above the 0.9 Jaccard threshold, some below) and exact duplicates
    * that differ only in case and spacing. Ids are dense from 0. */
  def documents(seed: Long, n: Int = 5000): (Seq[Doc], Seq[Planted]) = {
    val b = rng(BaseSeed, "documents")
    val base = (0 until n).map { i =>
      Doc(i.toLong, Seq.fill(60 + b.nextInt(141))(draw(b)).mkString(" "))
    }
    val r = rng(seed, "planted")
    val docs = scala.collection.mutable.ArrayBuffer(base: _*)
    val planted = scala.collection.mutable.ArrayBuffer[Planted]()
    def add(src: Long, text: String, kind: String): Unit = {
      planted += Planted(src, docs.length.toLong, kind)
      docs += Doc(docs.length.toLong, text)
    }
    // substitution shares: 2 % and 4 % stay above 0.9, 8 % and 12 % below
    val rates = Seq(0.02, 0.04, 0.08, 0.12)
    (0 until n / 20).foreach { j =>
      val src = base(r.nextInt(n))
      val words = src.text.split(" ")
      val rate = rates(j % rates.length)
      val edited = words.map(w =>
        if (r.nextDouble() < rate) s"${w}x${r.nextInt(1000)}" else w)
      add(src.id, edited.mkString(" "), s"edit$rate")
    }
    (0 until n / 50).foreach { _ =>
      val src = base(r.nextInt(n))
      add(src.id, "  " + src.text.toUpperCase.replace(" ", "   ") + " ", "exact")
    }
    (docs.toSeq, planted.toSeq)
  }

  /** The exact-dedup key's normalization, mirrored by the SQL
    * `lower(trim(regexp_replace(text, '\\s+', ' ')))`. */
  def normalize(text: String): String =
    text.replaceAll("\\s+", " ").trim.toLowerCase

  /** Word-set Jaccard exactly as the near-dup verifier defines it:
    * distinct tokens of `split(text, ' ')` (empty tokens included), a
    * double ratio rounded half-up to 4 decimals like SQL `round`. */
  def wordJaccard(a: String, b: String): Double = {
    val (x, y) = (a.split(" ", -1).toSet, b.split(" ", -1).toSet)
    val shared = x.count(y.contains)
    BigDecimal(shared.toDouble / (x.size + y.size - shared))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
  }
}
