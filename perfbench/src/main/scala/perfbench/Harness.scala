package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** What every workload shares: the session, timing, answer checking,
  * and (in a traced run) the tracer.
  *
  * An op is one timed unit of workload work. Its latency runs from the
  * call into the engine until the rows are on the driver; checking the
  * answer happens afterwards, untimed. A failed or wrong op counts in
  * `failed` and makes the run incorrect. */
final class Harness(val spark: SparkSession, val work: File, val data: File,
    traced: Boolean) {
  val tracer: Option[Tracer] = if (traced) Some(new Tracer(spark)) else None
  /** True while the current block of ops is traced. */
  def tracing: Boolean = tracer.isDefined && tracingBlock
  private var tracingBlock = traced
  def setTracing(on: Boolean): Unit = tracer.foreach { t =>
    if (on) t.attach() else t.detach()
    tracingBlock = on
  }

  /** Ops outside the measured loop (setup, warm-up) are checked but not
    * timed into the samples. */
  var measuring = false
  var attempted = 0L
  var failed = 0L
  /** class -> latencies (ms) of measured ops, split by whether their
    * block was traced. */
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val tracedSamples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  /** Untraced measured latencies of a class (ms). */
  def ms(cls: String): Seq[Double] = samples.get(cls).map(_.toSeq).getOrElse(Nil)

  /** Latency of the last op that ran (ms). */
  var lastMs = 0.0
  private var current: Option[Tracer.Op] = None

  /** Runs one op. `run` is timed and returns (result, rows returned);
    * `check` judges the result. Returns the result when the op ran. */
  def op[T](cls: String, kind: String = "loop")(run: => (T, Long))(
      check: T => Boolean): Option[T] = {
    attempted += 1
    val k = if (kind == "loop" && !measuring) "warm" else kind
    val t = if (tracing) tracer.map(_.beginOp(cls, k)) else None
    current = t
    val t0 = System.nanoTime()
    val result = try Right(run) catch { case NonFatal(e) => Left(e) }
    val dt = (System.nanoTime() - t0) / 1e6
    lastMs = dt
    for (tr <- tracer; o <- t) tr.endOp(o, result.map(_._2).getOrElse(0L))
    current = None
    result match {
      case Left(e) =>
        failed += 1
        System.err.println(s"[perfbench] op $cls failed: $e")
        None
      case Right((value, _)) =>
        if (measuring) {
          val into = if (t.isDefined) tracedSamples else samples
          into.getOrElseUpdate(cls, mutable.ArrayBuffer()) += dt
        }
        val ok = try check(value) catch { case NonFatal(e) =>
          System.err.println(s"[perfbench] check of $cls threw: $e"); false }
        if (!ok) {
          failed += 1
          System.err.println(s"[perfbench] op $cls returned a wrong answer")
        }
        Some(value)
    }
  }

  /** A span around a direct call into one layer, made beside an op and
    * outside its timing; untraced it is just the call. */
  def layer[T](name: String)(f: => T): T = (tracer, current) match {
    case (Some(tr), Some(o)) => tr.span(name, o)(f)
    case _ => f
  }

  /** Runs SQL and collects its rows, in the three steps a traced run
    * spans separately: parse+analyze, physical planning, execution. */
  def sql(text: String): Array[Row] = collect(layer("spark.sql")(spark.sql(text)))

  /** An op that runs one query and checks its rows. */
  def query(cls: String, text: String)(check: Array[Row] => Boolean): Unit =
    op(cls) { val rows = sql(text); (rows, rows.length.toLong) }(check)

  def collect(df: DataFrame): Array[Row] = {
    layer("executedPlan")(df.queryExecution.executedPlan)
    layer("collect")(df.collect())
  }

  /** Layer-metric records taken by workloads beside their ops in traced
    * blocks: name -> values, averaged in the report. */
  val layerValues = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  def record(name: String, v: Double): Unit =
    layerValues.getOrElseUpdate(name, mutable.ArrayBuffer()) += v
  /** The mean of a recorded layer value, when any was recorded. */
  def layerMean(name: String, unit: String): Option[(String, Metric)] =
    layerValues.get(name).map(xs => name -> Metric(xs.sum / xs.length, unit, xs.length))

  /** Times `f` and records its duration under `name` (ms) when tracing. */
  def timeLayer[T](name: String)(f: => T): T =
    if (!tracing) f
    else {
      val t0 = System.nanoTime()
      val r = layer(name)(f)
      record(name, (System.nanoTime() - t0) / 1e6)
      r
    }

  /** Setup steps' wall times (s), summed over repeated setups, for the
    * report: which step a change in `setup_s` came from. */
  val setupSteps = mutable.LinkedHashMap[String, Double]()
  def setupStep[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally setupSteps(name) = setupSteps.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }

  /** Regular files under `dir`, path -> bytes. */
  def files(dir: File): Map[String, Long] = {
    val out = mutable.Map[String, Long]()
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if (f.getName.endsWith(".parquet")) out(f.getPath) = f.length()
    walk(dir)
    out.toMap
  }
  /** Parquet data files written by write statements (traced runs). */
  val written = mutable.Map[String, Long]()
  /** Runs a write statement as an op of kind "write"; in a traced run
    * also records the data files it added. */
  def write(cls: String)(run: => Any): Unit = {
    val before = if (tracing) files(work) else Map.empty[String, Long]
    op(cls, "write")((run, 0L))(_ => true)
    if (tracing)
      files(work).foreach { case (p, n) => if (!before.contains(p)) written(p) = n }
  }
}

/** Row fingerprints for order-independent multiset comparison. */
object RowHash {
  def of(r: Row): Long = {
    val s = (0 until r.length).map(i => graft.CanonHash.canonValue(r.get(i))).mkString("|")
    (scala.util.hashing.MurmurHash3.stringHash(s, 17).toLong << 32) ^
      (scala.util.hashing.MurmurHash3.stringHash(s, 91).toLong & 0xffffffffL)
  }
  /** (count, wrapping sum of row hashes): equal multisets agree. */
  def bag(rows: Iterable[Row]): (Long, Long) =
    rows.foldLeft((0L, 0L)) { case ((n, h), r) => (n + 1, h + of(r)) }
}
