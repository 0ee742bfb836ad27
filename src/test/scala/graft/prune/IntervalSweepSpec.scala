package graft.prune

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite
import graft.codec.KeyCodec
import graft.prune.KeyRanges.{Iv, IvSet}

/** The sorted-sweep interval-set intersection must be point-set
  * equivalent to the naive cross product it replaced (seeded-random
  * loops, same style as PruneSoundnessSpec), and must stay linear in
  * comparisons at the list sizes runtime filters actually produce — a
  * shuffle-join runtime filter hands the scan an IN-list of tens of
  * thousands of key points, and the cross product's O(n·m) turned that
  * into minutes of single-threaded driver planning. */
class IntervalSweepSpec extends AnyFunSuite {

  private val rnd = new Random(4321)

  private def enc(i: Int): Array[Byte] =
    KeyCodec.encode(org.apache.spark.sql.types.IntegerType, i)

  private def randIv(): Iv = {
    def bound() = if (rnd.nextInt(8) == 0) None else Some(enc(rnd.nextInt(40)))
    Iv(bound(), rnd.nextBoolean(), bound(), rnd.nextBoolean())
  }

  /** Point-set membership over the tiny 0..39 domain (intervals are
    * over encoded ints, so integer points cover all boundaries). */
  private def covers(s: IvSet, p: Int): Boolean =
    s.exists(_.overlaps(enc(p), enc(p)))

  test("sweep intersection is point-set equal to the cross product") {
    for (_ <- 1 to 300) {
      val a = List.fill(1 + rnd.nextInt(40))(randIv())
      val b = List.fill(1 + rnd.nextInt(40))(randIv())
      val swept = KeyRanges.intersectSets(a, b)
      val crossed = (for (x <- a; y <- b) yield x.intersect(y))
        .filterNot(_.isEmpty)
      for (p <- 0 until 40) {
        assert(covers(swept, p) === covers(crossed, p),
          s"point $p: sweep=${covers(swept, p)} cross=${covers(crossed, p)}")
      }
    }
  }

  test("complement of points covers exactly the non-points") {
    for (_ <- 1 to 200) {
      val pts = List.fill(1 + rnd.nextInt(12))(rnd.nextInt(40))
      val comp = KeyRanges.complementOfPoints(pts.map(enc))
      for (p <- 0 until 40)
        assert(covers(comp, p) === !pts.contains(p),
          s"point $p of pts=$pts")
    }
  }

  test("two 50k-point sets intersect in linear comparisons") {
    def points(seed: Int): IvSet =
      (0 until 50000).toList.map { i =>
        val b = enc(i * 2 + seed)
        Iv(Some(b), loInc = true, Some(b), hiInc = true)
      }
    val a = points(0)
    val b = points(0) // identical — worst case for the old cross product
    var comparisons = 0L
    val counting: KeyRanges.ByteOrder = (x, y) => {
      comparisons += 1
      KeyCodec.compare(x, y)
    }
    val r = KeyRanges.intersectSets(a, b, counting)
    assert(r.length === 50000)
    // per interval, normalizing costs at most 4 comparisons: one
    // emptiness check, one sort comparison (the lists arrive sorted,
    // and the sort's run detection is linear on a sorted run) and two
    // in the merge; the sweep advances one side per step, so it takes
    // at most |a| + |b| steps of at most 4 comparisons each (two for
    // the intersection, one emptiness check, one to advance). The cross
    // product this replaced makes |a|·|b| = 2.5e9.
    val bound = 8L * (a.length + b.length)
    assert(comparisons <= bound,
      s"$comparisons comparisons, linear bound $bound")
  }
}
