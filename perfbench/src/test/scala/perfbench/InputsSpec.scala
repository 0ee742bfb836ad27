package perfbench

import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** The seed alone decides every generated input: one seed gives
  * byte-identical inputs, another seed gives different ones. */
class InputsSpec extends AnyFunSuite {

  /** A digest of what a run with `seed` generates: the key and parameter
    * streams, an ingest batch with its LOAD DATA CSV, and the documents
    * with their planted duplicates. */
  private def inputs(seed: Long): String = {
    val md = MessageDigest.getInstance("SHA-256")
    def add(s: String): Unit = md.update(s.getBytes("UTF-8"))
    for (stream <- Seq("point_get.ops", "olap.params", "ingest.ops")) {
      val r = Inputs.rng(seed, stream)
      add((0 until 1000).map(_ => r.nextLong()).mkString(","))
    }
    val r = Inputs.rng(seed, "ingest.ops")
    add(Inputs.csv((1 to 200).map(k => Inputs.orderRow(r, k.toLong))))
    val (docs, planted) = Inputs.documents(seed, n = 500)
    docs.foreach(d => add(s"${d.id}:${d.text}\n"))
    planted.foreach(p => add(s"$p\n"))
    md.digest().map(b => f"$b%02x").mkString
  }

  test("the same seed gives byte-identical inputs") {
    assert(inputs(7) == inputs(7))
  }

  test("another seed gives different inputs") {
    assert(inputs(7) != inputs(8))
  }

  test("the base data does not depend on the seed") {
    assert(Inputs.documents(1, n = 200)._1.take(200) == Inputs.documents(2, n = 200)._1.take(200))
  }

  test("planted near-duplicates straddle the 0.9 Jaccard threshold") {
    val (docs, planted) = Inputs.documents(3, n = 1000)
    val text = docs.map(d => d.id -> d.text).toMap
    val js = planted.filter(_.kind.startsWith("edit"))
      .map(p => Inputs.wordJaccard(text(p.src), text(p.copy)))
    assert(js.exists(_ >= 0.9) && js.exists(_ < 0.9))
  }
}
