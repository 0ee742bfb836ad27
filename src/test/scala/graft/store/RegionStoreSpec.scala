package graft.store

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Region store: bulk load produces key-ordered regions; pruning is
  * sound (never loses rows) and effective (point/range predicates touch
  * few regions). */
class RegionStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val orders =
    spark.read.parquet(s"${TestSpark.sfDir}/orders.parquet")
  private val dir1 = "/tmp/graft_test_store_orders"
  private val dir2 = "/tmp/graft_test_store_composite"

  private lazy val built1: Unit =
    RegionStore.bulkLoad(orders, Seq("o_orderkey"), dir1, 8)
  private lazy val built2: Unit =
    RegionStore.bulkLoad(orders, Seq("o_custkey", "o_orderkey"), dir2, 8)

  test("bulk load writes 8 regions with a manifest") {
    built1
    val m = RegionStore.readManifest(spark, dir1)
    assert(m.regions.size == 8)
    assert(m.regions.map(_.rows).sum == orders.count())
    assert(m.keyCols.map(_._1) == Seq("o_orderkey"))
  }

  test("regions are disjoint and ordered on the key") {
    built1
    val m = RegionStore.readManifest(spark, dir1)
    val sorted = m.regions.sortWith((a, b) =>
      graft.codec.KeyCodec.compare(a.mins.head, b.mins.head) < 0)
    sorted.sliding(2).foreach {
      case Seq(a, b) =>
        assert(graft.codec.KeyCodec.compare(a.maxs.head, b.mins.head) < 0)
      case _ =>
    }
  }

  test("point lookup prunes to one region and matches direct scan") {
    built1
    val (df, info) = RegionStore.scanWithInfo(spark, dir1,
      Some(col("o_orderkey") === 100))
    assert(info.total == 8)
    assert(info.selected == 1)
    assert(info.pointLookup)
    val expected = orders.filter(col("o_orderkey") === 100).collect()
    assert(df.collect().toSet == expected.toSet)
  }

  test("range scan prunes and matches direct scan") {
    built1
    val (df, info) = RegionStore.scanWithInfo(spark, dir1,
      Some(col("o_orderkey").between(100, 200)))
    assert(info.selected <= 2)
    val expected = orders.filter(col("o_orderkey").between(100, 200))
    assert(df.count() == expected.count())
  }

  test("IN-list prunes to the regions containing the points") {
    built1
    val (df, info) = RegionStore.scanWithInfo(spark, dir1,
      Some(col("o_orderkey").isin(1, 2, 1499)))
    assert(info.selected <= 2)
    assert(df.count() ==
      orders.filter(col("o_orderkey").isin(1, 2, 1499)).count())
  }

  test("empty range prunes everything") {
    built1
    val (df, info) = RegionStore.scanWithInfo(spark, dir1,
      Some(col("o_orderkey") === -5))
    assert(info.selected == 0)
    assert(df.count() == 0)
  }

  test("composite key: second-dimension predicate still prunes by stats") {
    built2
    // leading-dim predicate prunes by range
    val (_, i1) = RegionStore.scanWithInfo(spark, dir2,
      Some(col("o_custkey") === 7))
    assert(i1.selected < i1.total)
    // full-key point lookup
    val one = orders.filter(col("o_custkey") === 7).limit(1)
      .select("o_custkey", "o_orderkey").collect()
    if (one.nonEmpty) {
      val Array(ck, ok) = Array(one(0).getLong(0), one(0).getLong(1))
      val got = RegionStore.get(spark, dir2, Seq(ck, ok))
      assert(got.count() == 1)
    }
  }

  test("pruning soundness: pruned scan == full filter for many predicates") {
    built1
    val preds = Seq(
      col("o_orderkey") < 50,
      col("o_orderkey") >= 1450,
      col("o_orderkey").between(700, 710) || col("o_orderkey") === 3,
      col("o_orderkey") > 100 && col("o_orderkey") <= 105,
      col("o_totalprice") > 100000, // non-key: no pruning, still correct
      col("o_orderkey") === 1 || col("o_totalprice") < 0,
      !(col("o_orderkey") < 1400),
      col("o_orderkey").isNotNull && col("o_orderkey") < 10)
    preds.foreach { p =>
      val got = RegionStore.scan(spark, dir1, Some(p)).count()
      val exp = orders.filter(p).count()
      assert(got == exp, s"mismatch for $p")
    }
  }

  test("scan without predicate returns everything") {
    built1
    assert(RegionStore.scan(spark, dir1, None).count() == orders.count())
  }

  test("rejects unsupported key types") {
    intercept[IllegalArgumentException] {
      RegionStore.bulkLoad(
        spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet"),
        Seq("embedding"), "/tmp/graft_test_bad", 2)
    }
  }

  /** Jobs submitted while `body` runs (the listener bus is drained
    * before and after; `listenerBus` is private[spark], reached by
    * reflection). */
  private def jobsOf[T](body: => T): (Int, T) = {
    val sc = spark.sparkContext
    def drain(): Unit = {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    }
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    drain()
    sc.addSparkListener(l)
    try { val r = body; drain(); (jobs.get, r) }
    finally sc.removeSparkListener(l)
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("get runs no Spark job") {
    built1
    RegionStore.get(spark, dir1, Seq(7L)).collect() // warm the row decoder
    val (jobs, got) = jobsOf(RegionStore.get(spark, dir1, Seq(100L)).collect())
    assert(jobs == 0, s"get ran $jobs jobs")
    assert(got.length == 1 && got(0).getAs[Long]("o_orderkey") == 100L)
  }

  test("get equals scan(key === v) on single and composite keys") {
    built1
    built2
    val keys = orders.select("o_custkey", "o_orderkey").orderBy("o_orderkey")
      .limit(5).collect().map(r => (r.getLong(0), r.getLong(1)))
    (keys.map(_._2).toSeq :+ 2L :+ -5L).foreach { k => // 2: no such key
      assert(rows(RegionStore.get(spark, dir1, Seq(k))) ==
        rows(RegionStore.scan(spark, dir1, Some(col("o_orderkey") === k))), k)
    }
    keys.foreach { case (c, o) =>
      val got = rows(RegionStore.get(spark, dir2, Seq(c, o)))
      assert(got.size == 1)
      assert(got == rows(RegionStore.scan(spark, dir2,
        Some(col("o_custkey") === c && col("o_orderkey") === o))), (c, o))
    }
    assert(RegionStore.get(spark, dir2, Seq(keys(0)._1, keys(1)._2))
      .collect().isEmpty)
  }

  test("get after a re-bulkLoad of the same dir returns the new row") {
    val dir = "/tmp/graft_test_store_reload"
    import spark.implicits._
    RegionStore.bulkLoad(Seq((1L, "old"), (2L, "x")).toDF("k", "s"),
      Seq("k"), dir, 2)
    assert(rows(RegionStore.get(spark, dir, Seq(1L))) == Seq("[1,old]"))
    RegionStore.bulkLoad(Seq((1L, "new"), (3L, "y")).toDF("k", "s"),
      Seq("k"), dir, 2)
    assert(rows(RegionStore.get(spark, dir, Seq(1L))) == Seq("[1,new]"))
    assert(RegionStore.get(spark, dir, Seq(2L)).collect().isEmpty)
  }
}
