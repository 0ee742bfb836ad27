package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.TextOps

/** The document dedup pipeline over a graft table keyed by doc_id:
  * exact dedup on the md5 of normalized text, MinHash-LSH near-duplicate
  * pairs verified by exact word Jaccard, and connected components over
  * those pairs. The corpus is seeded text with planted near-duplicates
  * (some above the 0.9 threshold, some below) and planted exact
  * duplicates; every answer is recomputed on the driver. */
final class Dedup(h: Harness, seed: Long) extends BaseWorkload(h, seed) {
  def mainTable: String = s"$ns.docs_t"

  private var docs: Map[Long, String] = Map.empty
  private var wantKept: Set[Long] = Set.empty    // min doc_id per normalized text
  private var wantPairs: Set[(Long, Long)] = Set.empty // planted pairs at >= 0.9

  def prepare(): Unit = {
    val (all, planted) = Inputs.documents(seed)
    docs = all.map(d => d.id -> d.text).toMap
    wantKept = all.groupBy(d => Inputs.normalize(d.text)).values.map(_.map(_.id).min).toSet
    wantPairs = planted.filter(p => Inputs.wordJaccard(docs(p.src), docs(p.copy)) >= 0.9)
      .map(p => (p.src min p.copy, p.src max p.copy)).toSet
    val schema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false)))
    spark.createDataFrame(all.map(d => Row(d.id, d.text)).asJava, schema)
      .createOrReplaceTempView("documents")
  }

  def setup(namespace: String): Unit = {
    ns = namespace
    h.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
    load(mainTable, "documents", "doc_id", 8)
  }

  private def corpus: DataFrame = spark.table(s"graft.$mainTable")

  /** One pass: exact dedup, verified near-dup pairs, components. */
  def step(): Unit = {
    val t0 = System.nanoTime()
    h.query("exact", s"""SELECT min(doc_id) FROM graft.$mainTable
        |GROUP BY md5(lower(trim(regexp_replace(text, '\\\\s+', ' '))))""".stripMargin) {
      rows => rows.map(_.getLong(0)).toSet == wantKept
    }
    val pairs = TextOps.minhashVerifiedPairs(corpus, idBound = None).persist()
    try {
      val got = h.op("pairs") {
        val rows = h.collect(pairs)
        (rows.map(r => (r.getLong(0), r.getLong(1))), rows.length.toLong)
      } { ps =>
        ps.forall { case (a, b) => Inputs.wordJaccard(docs(a), docs(b)) >= 0.9 } &&
          wantPairs.subsetOf(ps.map { case (a, b) => (a min b, a max b) }.toSet)
      }
      h.op("cc") {
        val rows = h.collect(TextOps.connectedComponents(pairs))
        (rows.map(r => r.getLong(0) -> r.getLong(1)).toMap, rows.length.toLong)
      } { labels => got.forall(_.forall { case (a, b) => labels(a) == labels(b) }) &&
          labels.size == got.toSeq.flatten.flatMap { case (a, b) => Seq(a, b) }.distinct.size }
      if (h.tracing) layerProbes(got.map(_.length).getOrElse(0))
      encodeKeys(Seq(LongType), Seq(docs.size.toLong))
    } finally pairs.unpersist(blocking = true)
    if (h.measuring && !h.tracing) passes += (System.nanoTime() - t0) / 1e6
  }
  private val passes = mutable.ArrayBuffer[Double]()

  /** Traced blocks only: the signature kernel on its own, consumed by
    * an aggregate so it cannot be pruned away, and the candidate count
    * the verifier filters. */
  private def layerProbes(verified: Int): Unit = {
    val sigs = TextOps.minhashWordSigs(corpus)
    h.timeLayer("minhash_sig_ms")(sigs.agg(bit_xor(xxhash64(col("sig")))).collect())
    val bands = TextOps.minhashBands(sigs)
    val cands = bands.select(col("bh"), col("doc_id").as("da"))
      .join(bands.select(col("bh"), col("doc_id").as("db")), "bh")
      .filter(col("da") < col("db")).select("da", "db").distinct().count()
    h.record("candidate_pairs", cands.toDouble)
    h.record("verified_pairs", verified.toDouble)
    h.record("verify_yield", if (cands == 0) 0 else verified.toDouble / cands)
  }

  def warmup(): Unit = step()

  private val Stages = Seq("exact", "pairs", "cc")

  def endToEnd(): (Map[String, Metric], Map[String, Metric]) = {
    val pass = Stats.median(passes.toSeq)
    val gated = Map(
      "p50_ms" -> Metric(pass, "ms", passes.length),
      "geomean_ms" -> Metric(Stats.geomean(Stages.map(s => p50(s).value)), "ms", passes.length))
    val report = Map("dedup_pass_s" -> Metric(pass / 1000, "s", passes.length),
      "docs_per_s" -> Metric(docs.size / (pass / 1000), "1/s", passes.length)) ++
      Stages.map(s => s"${s}_p50_ms" -> p50(s))
    (gated, report)
  }

  override def layers(): Map[String, Metric] = (h.layerMean("minhash_sig_ms", "ms") ++
    h.layerMean("candidate_pairs", "count") ++ h.layerMean("verified_pairs", "count") ++
    h.layerMean("verify_yield", "ratio") ++ h.tracedSamples.get("cc").map(xs =>
      "cc_ms" -> Metric(Stats.median(xs.toSeq), "ms", xs.length))).toMap
}
