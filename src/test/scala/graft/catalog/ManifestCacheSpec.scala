package graft.catalog

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._

import graft.codec.KeyCodec

/** Manifest-cache behavior + the 100k-region scale probe.
  *
  * The reference caches region info with a 600 s TTL
  * (`HBaseRelation.fetchPartitions:203-235`, `HBaseSQLConf.scala:44-45`);
  * graft invalidates by file identity instead, so repeated scans cost a
  * stat, not an O(regions) JSON parse, with no staleness window. The
  * scale probe pins the driver-side costs that only show up at real
  * region counts: one parse, then cached planning must be effectively
  * free, and pruning must stay sub-second over 100k regions.
  */
class ManifestCacheSpec extends AnyFunSuite {

  private def tmpDir(): File = {
    val d = Files.createTempDirectory("graft-manifest-cache").toFile
    d.deleteOnExit()
    d
  }

  private def hexKey(v: Long): String =
    KeyCodec.toHex(KeyCodec.encode(LongType, v))

  private def region(i: Long, span: Long): RegionMeta =
    RegionMeta(s"part-$i.parquet", span,
      Seq(hexKey(i * span)), Seq(hexKey((i + 1) * span - 1)),
      bucket = (i % 32).toInt, id = i + 1,
      stats = Map(
        "price" -> ColStat(Some(hexKey(i)), Some(hexKey(i + 1000)), 3),
        "day" -> ColStat(Some(hexKey(i % 365)), Some(hexKey(i % 365 + 1)), 0)))

  test("repeated loads hit the cache; a commit invalidates it") {
    val dir = tmpDir()
    TableMeta.saveState(dir, TableMeta.ManifestState(
      1L, (0L until 16L).map(region(_, 1000L)), Map.empty))
    val before = TableMeta.manifestParses.get()
    val s1 = TableMeta.loadState(dir)
    (1 to 20).foreach(_ => assert(TableMeta.loadState(dir) eq s1))
    assert(TableMeta.loadGeneration(dir) == 1L)
    assert(TableMeta.manifestParses.get() == before + 1,
      "20 repeated loads + a generation read must parse exactly once")
    // a commit (append/compact/delete all go through saveState)
    // invalidates: the next load re-parses, later loads hit again
    TableMeta.saveState(dir, s1.copy(gen = 2L))
    val s2 = TableMeta.loadState(dir)
    assert(s2.gen == 2L)
    (1 to 5).foreach(_ => assert(TableMeta.loadState(dir) eq s2))
    assert(TableMeta.manifestParses.get() == before + 2)
  }

  test("an out-of-band commit (other process) is picked up by listing") {
    val dir = tmpDir()
    TableMeta.saveState(dir, TableMeta.ManifestState(
      1L, Seq(region(0L, 10L)), Map.empty))
    assert(TableMeta.loadState(dir).gen == 1L)
    val log = new File(dir, TableMeta.LogDirName)
    // simulate another process committing: (a) a NEW log segment —
    // written directly, NOT through this JVM's cache invalidation —
    // must be picked up by the per-load log listing...
    val cpName = log.list().filter(_.startsWith("cp-")).max
    val cpSeq = cpName.stripPrefix("cp-").stripSuffix(".json").toLong
    val seg = new File(log, f"${cpSeq + 1}%012d.json")
    Files.write(seg.toPath,
      s"""{"seq":${cpSeq + 1},"swap":true,"generation":7,"nextId":2,"regions":[]}"""
        .getBytes("UTF-8"))
    assert(TableMeta.loadState(dir).gen == 7L,
      "a foreign log segment must be seen by the next load")
    // ...and (b) a NEWER checkpoint written by a foreign fold must
    // displace the cached one by identity
    val cp2 = new File(log, f"cp-${cpSeq + 1}%012d.json")
    Files.write(cp2.toPath,
      s"""{"generation":9,"nextId":2,"lastSeq":${cpSeq + 1},"regions":[]}"""
        .getBytes("UTF-8"))
    seg.delete()
    assert(TableMeta.loadState(dir).gen == 9L,
      "a foreign checkpoint must be seen by the next load")
  }

  test("100k regions: parse once, cached planning free, pruning fast") {
    val dir = tmpDir()
    val n = 100000L
    val state = TableMeta.ManifestState(
      1L, (0L until n).map(region(_, 1000L)), Map.empty)
    val tSave = System.nanoTime()
    TableMeta.saveState(dir, state)
    val saveMs = (System.nanoTime() - tSave) / 1e6
    val before = TableMeta.manifestParses.get()
    val t0 = System.nanoTime()
    val s1 = TableMeta.loadState(dir)
    val parseMs = (System.nanoTime() - t0) / 1e6
    assert(s1.regions.size == n)
    assert(TableMeta.manifestParses.get() == before + 1,
      "the first load after a commit parses the manifest exactly once")
    val t1 = System.nanoTime()
    (1 to 100).foreach(_ => assert(TableMeta.loadState(dir) eq s1))
    val cachedMs = (System.nanoTime() - t1) / 1e6
    assert(TableMeta.manifestParses.get() == before + 1,
      "100 cached loads must parse nothing")
    // key-range pruning over every region: the per-scan driver cost.
    // Region i covers keys [1000 i, 1000 i + 999], so [42.0M, 42.1M]
    // overlaps exactly regions 42000..42100 (ids = i + 1)
    val iv = graft.prune.KeyRanges.Iv(
      Some(KeyCodec.encode(LongType, 42_000_000L)), true,
      Some(KeyCodec.encode(LongType, 42_100_000L)), true)
    val constraints = Map(0 -> List(iv))
    val t2 = System.nanoTime()
    val kept = s1.regions.filter(r => graft.prune.KeyRanges.survives(
      constraints, r.mins.map(KeyCodec.fromHex), r.maxs.map(KeyCodec.fromHex)))
    val keyPruneMs = (System.nanoTime() - t2) / 1e6
    assert(kept.map(_.id) == (42001L to 42101L),
      s"kept ${kept.size} of $n: ${kept.take(3).map(_.id)}...")
    // non-key stats pruning (compiled once, evaluated per region):
    // the kept set equals the regions whose stored price max can
    // exceed the literal
    val compiled = ColStats.compile(
      Seq(sources.GreaterThan("price", 99_999_000L)),
      Map("price" -> LongType, "day" -> LongType))
    val t3 = System.nanoTime()
    val statKept = s1.regions.filter(r => compiled.survives(r.stats))
    val statPruneMs = (System.nanoTime() - t3) / 1e6
    def priceMax(r: RegionMeta): Long = {
      val b = KeyCodec.fromHex(r.stats("price").max.get)
      KeyCodec.decode(LongType, b, 0, b.length).asInstanceOf[Long]
    }
    assert(statKept.map(_.id) ==
      s1.regions.filter(priceMax(_) > 99_999_000L).map(_.id),
      s"stats kept ${statKept.size} of $n")
    // timings are informational only: exactness is gated above
    info(f"save=${saveMs}%.0fms parse=${parseMs}%.0fms " +
      f"cached100=${cachedMs}%.0fms keyPrune=${keyPruneMs}%.0fms " +
      f"statPrune=${statPruneMs}%.0fms")
  }
}
