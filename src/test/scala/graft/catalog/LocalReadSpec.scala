package graft.catalog

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Driver-served key-addressed reads ([[GraftLocalScanExec]],
  * [[GraftLocalProbeExec]]): gets, key ranges, composite-prefix scans
  * and index probes submit no Spark job and compile no code, answer
  * exactly as the distributed plan does, keep the region metrics, and
  * never engage outside their firing conditions. Every gate is an
  * exact count or an answer comparison. */
class LocalReadSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val setup: Unit = {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.lr")
    spark.sql("DROP TABLE IF EXISTS graft.lr.t")
    spark.sql("CREATE TABLE graft.lr.t (k BIGINT, grp STRING, v DOUBLE) " +
      "TBLPROPERTIES('keyCols'='k', 'numRegions'='8')")
    spark.sql("INSERT INTO graft.lr.t SELECT id, concat('g', id % 5), " +
      "id * 0.5 FROM range(4000)")
    spark.sql("DROP TABLE IF EXISTS graft.lr.c")
    spark.sql("CREATE TABLE graft.lr.c (a BIGINT, b INT, w STRING) " +
      "TBLPROPERTIES('keyCols'='a;b', 'numRegions'='4')")
    spark.sql("INSERT INTO graft.lr.c SELECT id DIV 4, CAST(id % 4 AS INT), " +
      "CAST(id AS STRING) FROM range(4000)")
  }

  /** Every physical node, through adaptive wrappers, query stages,
    * eagerly executed commands and (optionally) subqueries. */
  private def nodes(p: SparkPlan, subqueries: Boolean = true)
      : Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan, subqueries)
    case q: QueryStageExec => nodes(q.plan, subqueries)
    case c: CommandResultExec => nodes(c.commandPhysicalPlan, subqueries)
    case other => other +: (other.children ++
      (if (subqueries) other.subqueries else Nil))
      .flatMap(nodes(_, subqueries))
  }

  private def locals(df: DataFrame, subqueries: Boolean = true)
      : Seq[GraftLocalScanExec] =
    nodes(df.queryExecution.executedPlan, subqueries).collect {
      case l: GraftLocalScanExec => l
    }

  private def probes(df: DataFrame): Seq[GraftLocalProbeExec] =
    nodes(df.queryExecution.executedPlan).collect {
      case p: GraftLocalProbeExec => p
    }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally kv.foreach { case (k, _) => spark.conf.unset(k) }
  }

  /** The listener bus is asynchronous: drain it before reading counts
    * (`listenerBus` is private[spark], reached by reflection). */
  private def drain(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** (jobs submitted, Janino compiles, sorted answer rows) of one
    * collect. */
  private def measure(q: String): (Int, Long, Seq[String]) = {
    val jobs = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    drain()
    spark.sparkContext.addSparkListener(l)
    try {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val rows = spark.sql(q).collect()
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
      drain()
      (jobs.get, compiles, rows.map(_.toString).sorted.toSeq)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def answer(q: String, localRead: Boolean): (Seq[String], Int) =
    withConf(GraftAccel.LocalRead -> localRead.toString) {
      val df = spark.sql(q)
      val rows = df.collect().map(_.toString).sorted.toSeq
      (rows, locals(df).size)
    }

  /** Fires with the switch on, not with it off, same answer. */
  private def parity(q: String): Seq[String] = {
    val (on, nOn) = answer(q, localRead = true)
    val (off, nOff) = answer(q, localRead = false)
    assert(nOn > 0, s"the local path should serve: $q")
    assert(nOff == 0, s"localRead=false must plan the distributed scan: $q")
    assert(on == off, s"answers diverge for: $q")
    on
  }

  test("get, key range and composite prefix submit no job and compile " +
      "nothing") {
    setup
    // each shape runs once first with another literal: the session's
    // result deserializer for the row type is compiled (and cached) once
    val shapes = Seq(
      ("SELECT * FROM graft.lr.t WHERE k = %d", Seq(17, 1234),
        Seq("[1234,g4,617.0]")),
      ("SELECT k, v FROM graft.lr.t WHERE k BETWEEN %d AND %<d + 2",
        Seq(40, 2000), Seq("[2000,1000.0]", "[2001,1000.5]", "[2002,1001.0]")),
      ("SELECT a, b, w FROM graft.lr.c WHERE a = %d", Seq(3, 500),
        Seq("[500,0,2000]", "[500,1,2001]", "[500,2,2002]", "[500,3,2003]")))
    shapes.foreach { case (shape, Seq(warm, key), want) =>
      measure(shape.format(warm))
      val q = shape.format(key)
      val (jobs, compiles, rows) = measure(q)
      assert(rows == want, q)
      assert(jobs == 0, s"$jobs jobs for: $q")
      assert(compiles == 0, s"$compiles codegen compiles for: $q")
      assert(locals(spark.sql(q)).size == 1, q)
    }
  }

  test("answers match the distributed scan: LIMIT, IN, metadata columns") {
    setup
    parity("SELECT * FROM graft.lr.t WHERE k BETWEEN 100 AND 900 LIMIT 5")
    parity("SELECT k, v FROM graft.lr.t WHERE k BETWEEN 100 AND 900 " +
      "ORDER BY k DESC LIMIT 3")
    assert(parity("SELECT k, grp FROM graft.lr.t WHERE k IN (3, 77, 3999, " +
      "5000)").size == 3)
    assert(parity("SELECT k, _graft_region_id, _graft_file FROM " +
      "graft.lr.t WHERE k IN (1, 3998)").size == 2)
    parity("SELECT count(*), sum(v) FROM graft.lr.t WHERE k < 300 AND " +
      "grp = 'g2'")
    parity("SELECT a, count(*) FROM graft.lr.c WHERE a BETWEEN 10 AND 20 " +
      "GROUP BY a")
    // a driver-served scan as a join's (broadcast) build side
    assert(parity("SELECT t.k, t.grp, c.w FROM graft.lr.t t JOIN " +
      "graft.lr.c c ON t.k = c.a * 4 + c.b WHERE c.a BETWEEN 10 AND 12")
      .size == 12)
  }

  test("answers match across time travel and overlapping appended regions") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.lr")
    spark.sql("DROP TABLE IF EXISTS graft.lr.tt")
    spark.sql("CREATE TABLE graft.lr.tt (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES('keyCols'='k', 'numRegions'='4')")
    spark.sql("INSERT INTO graft.lr.tt SELECT id * 2, id FROM range(1000)")
    val v1 = TableMeta.currentVersion(
      spark.sessionState.catalogManager.catalog("graft")
        .asInstanceOf[GraftCatalog]
        .loadTable(org.apache.spark.sql.connector.catalog.Identifier
          .of(Array("lr"), "tt")).asInstanceOf[GraftTable].tableDir)
    // odd keys land in regions whose ranges overlap the first load's
    spark.sql("INSERT INTO graft.lr.tt SELECT id * 2 + 1, -id FROM range(1000)")
    assert(parity("SELECT * FROM graft.lr.tt WHERE k BETWEEN 500 AND 520")
      .size == 21)
    assert(parity(s"SELECT * FROM graft.lr.tt VERSION AS OF $v1 " +
      "WHERE k BETWEEN 500 AND 520").size == 11)
    spark.sql("DROP TABLE graft.lr.tt")
  }

  test("never fires: unfiltered, non-key-only, over the byte bound, " +
      "key-grouped, subquery, rand()") {
    setup
    def none(q: String): Unit = {
      val (on, n) = answer(q, localRead = true)
      assert(n == 0, s"the local path must not serve: $q")
      assert(on == answer(q, localRead = false)._1, q)
    }
    none("SELECT * FROM graft.lr.t")
    none("SELECT * FROM graft.lr.t WHERE grp = 'g1'")
    none("SELECT * FROM graft.lr.t WHERE v < 3")
    withConf("spark.sql.files.openCostInBytes" -> "1") {
      none("SELECT * FROM graft.lr.t WHERE k = 5")
    }
    // key-grouped (regionSplits) scans keep storage-partitioned plans
    spark.sql("DROP TABLE IF EXISTS graft.lr.s")
    spark.sql("CREATE TABLE graft.lr.s (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES('keyCols'='k', 'regionSplits'='100;200;300')")
    spark.sql("INSERT INTO graft.lr.s SELECT id, id FROM range(400)")
    none("SELECT * FROM graft.lr.s WHERE k = 150")
    spark.sql("DROP TABLE graft.lr.s")
    none("SELECT * FROM graft.lr.t WHERE k BETWEEN 10 AND 20 AND " +
      "rand(7) < 0.5")
    // the outer key-bounded scan carries a scalar subquery; the
    // subquery's own key-bounded scan may still be served locally
    val q = "SELECT * FROM graft.lr.t WHERE k BETWEEN 10 AND 20 AND " +
      "v > (SELECT max(v) FROM graft.lr.t WHERE k < 15)"
    withConf(GraftAccel.LocalRead -> "true") {
      val df = spark.sql(q)
      assert(df.collect().length == 6)
      assert(locals(df, subqueries = false).isEmpty, q)
    }
  }

  test("never fires for the row-level rewrite scans of MERGE, UPDATE, " +
      "DELETE") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.lr")
    spark.sql("DROP TABLE IF EXISTS graft.lr.rw")
    spark.sql("CREATE TABLE graft.lr.rw (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES('keyCols'='k', 'numRegions'='4')")
    spark.sql("INSERT INTO graft.lr.rw SELECT id, id FROM range(400)")
    val stmts = Seq(
      "UPDATE graft.lr.rw SET v = -1 WHERE k = 7",
      "DELETE FROM graft.lr.rw WHERE k = 9 AND v > 0",
      "MERGE INTO graft.lr.rw t USING (SELECT 11L AS k, 5.0 AS v) s " +
        "ON t.k = s.k AND t.k = 11 WHEN MATCHED THEN UPDATE SET t.v = s.v")
    withConf(GraftAccel.LocalRead -> "true") {
      stmts.foreach { q =>
        val df = spark.sql(q)
        assert(locals(df, subqueries = false).isEmpty, q)
        assert(nodes(df.queryExecution.executedPlan, subqueries = false)
          .exists(_.isInstanceOf[BatchScanExec]), q)
      }
    }
    val got = spark.sql("SELECT k, v FROM graft.lr.rw WHERE k IN (7, 9, 11)")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(7L -> -1.0, 11L -> 5.0))
    spark.sql("DROP TABLE graft.lr.rw")
  }

  test("scan_estimate reads the same partitions off a local scan, with " +
      "no job") {
    setup
    val preds = Seq("k BETWEEN 10 AND 20", "k = 3999", "k IN (5, 2500)",
      "true", "v < 3")
    def readout(localRead: Boolean): Seq[Seq[String]] =
      withConf(GraftAccel.LocalRead -> localRead.toString) {
        preds.map { p =>
          val (jobs, _, rows) = measure("CALL graft.sys.scan_estimate(" +
            s"table => 'lr.t', predicate => '$p')")
          assert(jobs == 0, s"scan_estimate ran $jobs jobs for: $p")
          rows
        }
      }
    val on = readout(localRead = true)
    assert(on == readout(localRead = false))
    // regions_total, regions_scanned of `k BETWEEN 10 AND 20`
    assert(on.head.head.stripPrefix("[").split(",").take(2).toSeq ==
      Seq("8", "1"), on.head)
  }

  test("the local node reports the region metrics") {
    setup
    withConf(GraftAccel.LocalRead -> "true") {
      val df = spark.sql("SELECT * FROM graft.lr.t WHERE k = 2500")
      assert(df.collect().length == 1)
      val l = locals(df).head
      def m(n: String): Long = l.metrics(n).value
      assert(m("regionsTotal") == 8)
      assert(m("regionsScanned") == 1)
      assert(m("readPartitions") == 1)
      val regionRows = spark.sql("SELECT _graft_region_id FROM graft.lr.t " +
        "WHERE k = 2500").head().getLong(0)
      assert(m("numOutputRows") > 0 && m("numOutputRows") ==
        spark.sql(s"SELECT count(*) FROM graft.lr.t WHERE _graft_region_id " +
          s"= $regionRows").head().getLong(0),
        "numOutputRows counts the rows the region reader produced")
      assert(l.toString.contains("GraftLocalScan t regions=1"), l.toString)
    }
  }

  // ------------------------------------------------------ index probes

  /** `ix`: 8 key regions; `grp` clusters with the key (k / 500), `tag`
    * scatters (k % 40); `pad` makes base regions much larger than the
    * index regions. Fresh indexes on `grp` and on `c.w`. */
  private lazy val probeSetup: Unit = {
    setup
    spark.sql("DROP TABLE IF EXISTS graft.lr.ix")
    spark.sql("DROP TABLE IF EXISTS graft.lr.ix_idx_grp")
    spark.sql("DROP TABLE IF EXISTS graft.lr.c_idx_w")
    createIx("graft.lr.ix")
    spark.sql("CALL graft.sys.index(table => 'lr.ix', column => 'grp')")
      .collect()
    spark.sql("CALL graft.sys.index(table => 'lr.c', column => 'w')")
      .collect()
  }

  private def createIx(name: String): Unit = {
    spark.sql(s"CREATE TABLE $name (k BIGINT, grp BIGINT, tag STRING, " +
      "v DOUBLE, pad STRING) TBLPROPERTIES('keyCols'='k', 'numRegions'='8')")
    spark.sql(s"INSERT INTO $name SELECT id, id DIV 500, " +
      "concat('t', id % 40), id * 0.5, concat(sha2(CAST(id AS STRING), 512), " +
      "sha2(CAST(-id AS STRING), 512)) FROM range(4000)")
  }

  /** Same answer with the switch on and off; the probe node serves the
    * query iff `fires`, and never with the switch off. */
  private def probeParity(q: String, fires: Boolean): Seq[String] = {
    def run(localRead: Boolean): (Seq[String], Int) =
      withConf(GraftAccel.LocalRead -> localRead.toString) {
        val df = spark.sql(q)
        (df.collect().map(_.toString).sorted.toSeq, probes(df).size)
      }
    val (on, nOn) = run(localRead = true)
    val (off, nOff) = run(localRead = false)
    assert((nOn > 0) == fires, s"probe node count $nOn for: $q")
    assert(nOff == 0, s"localRead=false must plan the join: $q")
    assert(on == off, s"answers diverge for: $q")
    on
  }

  test("index point and range probes submit no job and compile nothing") {
    probeSetup
    val shapes = Seq(
      ("SELECT k, v FROM graft.lr.ix WHERE grp = %d", Seq(1, 5), 500),
      ("SELECT k, tag FROM graft.lr.ix WHERE grp BETWEEN %d AND %<d + 1",
        Seq(0, 3), 1000))
    shapes.foreach { case (shape, Seq(warm, key), want) =>
      measure(shape.format(warm))
      val q = shape.format(key)
      val (jobs, compiles, rows) = measure(q)
      assert(rows.size == want, q)
      assert(jobs == 0, s"$jobs jobs for: $q")
      assert(compiles == 0, s"$compiles codegen compiles for: $q")
      val df = spark.sql(q)
      df.collect()
      val p = probes(df)
      assert(p.size == 1, q)
      // the plan still names the index; the base is re-pruned to the
      // regions holding the probed keys (k / 500 = key: one or two)
      assert(df.queryExecution.executedPlan.toString.contains("ix_idx_grp"), q)
      assert(p.head.metrics("probeKeys").value == want, q)
      assert(p.head.metrics("regionsScanned").value <= 3, q)
      assert(p.head.metrics("regionsTotal").value == 8, q)
    }
  }

  test("index probes answer as the distributed join: empty probe, " +
      "composite base key, stale index, time travel, IN subquery") {
    probeSetup
    assert(probeParity("SELECT k, v FROM graft.lr.ix WHERE grp = 999",
      fires = true).isEmpty)
    assert(probeParity("SELECT * FROM graft.lr.ix WHERE grp = 2 AND " +
      "tag = 't7'", fires = true).size == 13)
    // under an aggregate: the node hands its rows to an RDD parent
    assert(probeParity("SELECT tag, count(*), sum(v) FROM graft.lr.ix " +
      "WHERE grp = 2 GROUP BY tag", fires = true).size == 40)
    // composite base key (a, b): both key columns join the probe
    assert(probeParity("SELECT a, b, w FROM graft.lr.c WHERE w = '2001'",
      fires = true) == Seq("[500,1,2001]"))
    // a semi join the user wrote, every base key equated to a small
    // driver-served graft read
    assert(probeParity("SELECT k, grp FROM graft.lr.ix WHERE k IN " +
      "(SELECT a FROM graft.lr.c WHERE a BETWEEN 10 AND 12)",
      fires = true).size == 3)
    // not every base key equated: the join stays distributed
    probeParity("SELECT a, b, w FROM graft.lr.c WHERE a IN " +
      "(SELECT k FROM graft.lr.t WHERE k BETWEEN 10 AND 12)", fires = false)
    // time travel and a stale index: no rewrite, no probe
    val dir = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[GraftCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier
        .of(Array("lr"), "ix")).asInstanceOf[GraftTable].tableDir
    val v = TableMeta.currentVersion(dir)
    spark.sql("INSERT INTO graft.lr.ix SELECT id, 3, 'tx', 0.0, 'p' " +
      "FROM range(9000, 9005)")
    assert(probeParity(s"SELECT k, v FROM graft.lr.ix VERSION AS OF $v " +
      "WHERE grp = 3", fires = false).size == 500)
    assert(probeParity("SELECT k, v FROM graft.lr.ix WHERE grp = 3",
      fires = false).size == 505)
    spark.sql("CALL graft.sys.index(table => 'lr.ix', column => 'grp')")
      .collect()
    assert(probeParity("SELECT k, v FROM graft.lr.ix WHERE grp = 3",
      fires = true).size == 505)
  }

  test("MERGE and UPDATE on an indexed column leave the same table with " +
      "the switch on and off") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.lr")
    val stmts = Seq(
      "UPDATE %s SET v = -1.0 WHERE grp = 3",
      "MERGE INTO %s t USING (SELECT id AS k, 7.0 AS v FROM range(1490, " +
        "1510)) s ON t.k = s.k AND t.grp = 2 WHEN MATCHED THEN UPDATE " +
        "SET t.v = s.v")
    stmts.foreach { stmt =>
      def after(localRead: Boolean): Seq[String] =
        withConf(GraftAccel.LocalRead -> localRead.toString) {
          spark.sql("DROP TABLE IF EXISTS graft.lr.rwix")
          spark.sql("DROP TABLE IF EXISTS graft.lr.rwix_idx_grp")
          createIx("graft.lr.rwix")
          spark.sql("CALL graft.sys.index(table => 'lr.rwix', " +
            "column => 'grp')").collect()
          spark.sql(stmt.format("graft.lr.rwix"))
          spark.sql("SELECT k, grp, v FROM graft.lr.rwix").collect()
            .map(_.toString).sorted.toSeq
        }
      val on = after(localRead = true)
      assert(on == after(localRead = false), stmt)
      assert(on.size == 4000)
    }
    spark.sql("DROP TABLE graft.lr.rwix")
    spark.sql("DROP TABLE IF EXISTS graft.lr.rwix_idx_grp")
  }

  test("a probe whose re-pruned base exceeds the byte bound runs " +
      "exactly one job, same answer") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.lr")
    spark.sql("DROP TABLE IF EXISTS graft.lr.big")
    spark.sql("DROP TABLE IF EXISTS graft.lr.big_idx_grp")
    createIx("graft.lr.big")
    spark.sql("CALL graft.sys.index(table => 'lr.big', column => 'grp')")
      .collect()
    def bytes(table: String): Seq[Long] = {
      val t = spark.sessionState.catalogManager.catalog("graft")
        .asInstanceOf[GraftCatalog]
        .loadTable(org.apache.spark.sql.connector.catalog.Identifier
          .of(Array("lr"), table)).asInstanceOf[GraftTable]
      TableMeta.loadRegions(t.tableDir)
        .map(r => new java.io.File(t.tableDir, r.file).length())
    }
    // a bound the whole index fits under and no base region does
    val bound = bytes("big_idx_grp").sum
    assert(bound < bytes("big").min, "fixture: base regions must be larger")
    val q = "SELECT k, tag FROM graft.lr.big WHERE grp = 4"
    val local = measure(q)
    withConf("spark.sql.files.openCostInBytes" -> bound.toString) {
      val df = spark.sql(q)
      assert(probes(df).size == 1, q)
      val (jobs, _, rows) = measure(q)
      assert(jobs == 1, s"$jobs jobs over the bound")
      assert(rows == local._3)
      assert(rows.size == 500)
    }
    spark.sql("DROP TABLE graft.lr.big")
    spark.sql("DROP TABLE graft.lr.big_idx_grp")
  }
}
