package perfbench

import java.io.File

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Filter

import graft.catalog.TableMeta
import graft.codec.KeyCodec
import graft.prune.KeyRanges

/** A metric as reported: value, unit and how many samples it rests on. */
final case class Metric(value: Double, unit: String, samples: Long)

/** One benchmark workload. `prepare` computes the expected answers from
  * the inputs with plain Spark (untimed, once); `setup` builds in the
  * engine everything the loop reads (timed as `setup_s`, run several
  * times, each into a fresh namespace `ns`); `step` runs one unit of the
  * closed loop (one op, sweep, cycle or pass); `finish` makes the
  * end-of-run checks. */
trait Workload {
  def prepare(): Unit
  def setup(ns: String): Unit
  /** Drops what `setup` built, for a repeated setup. */
  def teardown(): Unit
  def warmup(): Unit
  def step(): Unit
  def finish(): Unit = ()
  /** The bounded end-to-end metrics, and the report-only named ones. */
  def endToEnd(): (Map[String, Metric], Map[String, Metric])
  /** Layer metrics this workload takes beyond the shared ones. */
  def layers(): Map[String, Metric] = Map.empty
  /** The table whose manifest the run reports (`ns.table`). */
  def mainTable: String
}

/** Helpers shared by the workloads. */
abstract class BaseWorkload(h: Harness, seed: Long) extends Workload {
  protected val spark = h.spark
  /** The namespace (and work-file prefix) of the current setup. */
  protected var ns = ""

  protected def tableDir(ident: String): File = Layers.tableDirOf(h.work, ident)

  /** Median of a class's untraced latencies (ms). */
  protected def p50(cls: String): Metric = {
    val xs = h.ms(cls)
    Metric(Stats.median(xs), "ms", xs.length)
  }
  /** `<cls>_tail_ms` and the percentile it is (`<cls>_tail_pct`). */
  protected def tail(cls: String): Seq[(String, Metric)] =
    Stats.tail(h.ms(cls)).toSeq.flatMap { case (p, v) =>
      val n = h.ms(cls).length.toLong
      Seq(s"${cls}_tail_ms" -> Metric(v, "ms", n), s"${cls}_tail_pct" -> Metric(p, "%", n))
    }

  /** Registers base tables as temp views of their own names: the
    * plain-parquet side that loads the engine and checks its answers. */
  protected def useBase(names: String*): Unit = names.foreach { n =>
    spark.read.parquet(BaseData.path(h.data, n)).createOrReplaceTempView(n)
  }

  /** Creates `graft.<ident>` with the view's schema and loads it. */
  protected def load(ident: String, view: String, keyCols: String, regions: Int): Unit = {
    val cols = spark.table(view).schema.fields
      .map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")
    h.sql(s"CREATE TABLE graft.$ident ($cols) " +
      s"TBLPROPERTIES('keyCols'='$keyCols', 'numRegions'='$regions')")
    h.write(s"load:$view")(h.sql(s"INSERT INTO graft.$ident SELECT * FROM $view"))
  }

  /** Drops the namespace table by table, so the catalog also evicts
    * each table's cached manifest, and deletes the setup's work files. */
  def teardown(): Unit = {
    spark.sql(s"SHOW TABLES IN graft.$ns").collect()
      .foreach(r => spark.sql(s"DROP TABLE graft.$ns.${r.getString(1)}"))
    spark.sql(s"DROP NAMESPACE graft.$ns")
    Option(h.work.listFiles()).toSeq.flatten.filter(_.getName.startsWith(s"$ns-"))
      .foreach(Main.deleteRecursively)
  }

  // ------------------------------------------------ direct layer calls

  /** Traced blocks only: times the layers a key-addressed read passes
    * through outside Spark: manifest load, key-interval pruning of the
    * predicate over the live regions, and key encoding. */
  protected def keyLayers(ident: String, querySql: String, keys: Seq[Any]): Unit =
    if (h.tracing) {
      val dir = tableDir(ident)
      val state = h.timeLayer("manifest_load_ms")(TableMeta.loadState(dir))
      val meta = TableMeta.load(dir)
      val dims = meta.keyCols.zipWithIndex.map { case (c, i) =>
        c.toLowerCase -> (i, meta.schema(c).dataType) }.toMap
      val pred: Option[Expression] = spark.sql(querySql).queryExecution.analyzed
        .collectFirst { case f: Filter => f.condition }
      pred.foreach { p =>
        val regions = state.regions.map(r =>
          (r.mins.map(KeyCodec.fromHex), r.maxs.map(KeyCodec.fromHex)))
        val t0 = System.nanoTime()
        h.layer("prune") {
          val c = KeyRanges.analyze(p, dims)
          regions.count { case (lo, hi) => KeyRanges.survives(c, lo, hi) }
        }
        h.record("analyze_us", (System.nanoTime() - t0) / 1e3)
      }
      encodeKeys(meta.keyTypes.take(keys.length), keys)
    }

  protected def encodeKeys(types: Seq[org.apache.spark.sql.types.DataType], keys: Seq[Any]): Unit =
    if (h.tracing) {
      val reps = 64
      val t0 = System.nanoTime()
      h.layer("codec") {
        var i = 0
        while (i < reps) { KeyCodec.encodeComposite(types, keys); i += 1 }
      }
      h.record("encode_ns_per_key", (System.nanoTime() - t0).toDouble / reps)
    }
}
