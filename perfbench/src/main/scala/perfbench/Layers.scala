package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.Row

import graft.catalog.TableMeta

/** Per-layer metrics of a traced run, derived from the tracer's records
  * of the measured loop's traced ops. Each is per op unless named
  * otherwise; which end-to-end metric each should move is listed in the
  * benchmark's README. */
object Layers {
  /** The per-layer metrics every workload reports (the result line of a
    * traced run). Workload-specific ones go to the full report only. */
  val ResultLine: Seq[String] = Seq(
    "parse_ms", "analysis_ms", "optimization_ms", "planning_ms",
    "compiles_per_op",
    "jobs_per_op", "stages_per_op", "tasks_per_op", "sched_wait_ms",
    "task_run_ms", "task_cpu_ms", "gc_ms", "deser_ms",
    "shuffle_read_bytes", "shuffle_write_bytes",
    "input_bytes", "records_read",
    "regions_total", "regions_scanned", "read_partitions", "rows_read_per_row_returned",
    "manifest_load_ms", "live_regions", "log_segments",
    "write_job_ms", "driver_commit_ms", "files_written", "bytes_written", "write_amp",
    "encode_ns_per_key",
    "self_op_ms", "self_sql_ms", "self_plan_ms", "self_collect_ms",
    "self_job_ms", "self_stage_ms", "self_task_ms",
    "unattributed_ms", "trace_overhead")

  private val MsPerUs = 1e-3

  def summary(h: Harness, w: Workload, manifest: Row, work: File): Map[String, Metric] = {
    val t = h.tracer.get
    t.drain()
    val loop = t.ops.filter(o => o.kind == "loop" && o.endUs > 0).toSeq
    val n = loop.length.toLong
    def perOp(name: String, unit: String)(f: Tracer.Op => Double): (String, Metric) =
      name -> Metric(if (n == 0) 0 else loop.map(f).sum / n, unit, n)

    val execs = loop.map(o => o.id -> t.executionsOf(o)).toMap
    val tasks = loop.map(o => o.id -> t.tasksOf(o.id)).toMap
    val jobs = loop.map(o => o.id -> t.jobsOf(o.id)).toMap
    def phase(p: String)(o: Tracer.Op) = execs(o.id).map(_.phases.getOrElse(p, 0.0)).sum
    def taskSum(f: Tracer.TaskRec => Double)(o: Tracer.Op) = tasks(o.id).map(f).sum
    def scan(f: Tracer.ExecRec => Long)(o: Tracer.Op) = execs(o.id).map(f).sum.toDouble

    // job submit -> first task launch, summed over the op's jobs
    def schedWait(o: Tracer.Op): Double = jobs(o.id).map { j =>
      val first = tasks(o.id).filter(_.job == j.id).map(_.launchUs)
      if (first.isEmpty) 0.0 else (first.min - j.startUs) * MsPerUs
    }.sum

    val engine = t.engineSpans()
    val loopIds = loop.map(_.id).toSet
    val spans = (t.spans.toSeq ++ engine).filter(s => loopIds.contains(s.op))
    val self = Tracer.selfTimes(spans)
    def selfMs(metric: String, span: String) = metric -> Metric(
      if (n == 0) 0 else self.getOrElse(span, 0L) * MsPerUs / n, "ms", n)

    // op time covered by no job and no driver-side planning span
    val byOp = spans.groupBy(_.op)
    def unattributed(o: Tracer.Op): Double = {
      val cover = byOp.getOrElse(o.id, Nil)
        .filter(s => s.name == "job" || s.name == "spark.sql" || s.name == "executedPlan")
        .map(s => (s.startUs, s.endUs))
      (o.endUs - o.startUs - Tracer.covered(o.startUs, o.endUs, cover)) * MsPerUs
    }

    val rowsRead = loop.map(scan(_.rowsRead)).sum
    val rowsReturned = loop.map(_.rowsReturned).sum

    // write statements (setup included): job time and the driver-side
    // tail after the last job (commit)
    val writes = t.ops.filter(o => o.kind == "write" && o.endUs > 0).toSeq
    val writeJobs = writes.map { o =>
      val js = t.jobsOf(o.id).filter(_.endUs > 0)
      val jobMs = Tracer.covered(o.startUs, o.endUs, js.map(j => (j.startUs, j.endUs))) * MsPerUs
      val tailMs = (o.endUs - (if (js.isEmpty) o.startUs else js.map(_.endUs).max)) * MsPerUs
      (jobMs, math.max(0.0, tailMs))
    }
    val nsDir = tableDirOf(work, w.mainTable).getParentFile.getPath + File.separator
    val writtenHere = h.written.filter(_._1.startsWith(nsDir)).values.sum
    val liveHere = liveBytes(new File(nsDir))
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.length

    val overhead = {
      val ratios = h.tracedSamples.keys.toSeq.filter(h.samples.contains).map { c =>
        Stats.median(h.tracedSamples(c).toSeq) / Stats.median(h.samples(c).toSeq)
      }
      if (ratios.isEmpty) 0.0 else Stats.geomean(ratios) - 1
    }
    def recorded(name: String, unit: String) =
      h.layerMean(name, unit).getOrElse(name -> Metric(0, unit, 0))
    def manifestCol(c: String) = manifest.get(manifest.fieldIndex(c)).toString.toDouble

    Map(
      perOp("parse_ms", "ms")(phase("parsing")),
      perOp("analysis_ms", "ms")(phase("analysis")),
      perOp("optimization_ms", "ms")(phase("optimization")),
      perOp("planning_ms", "ms")(phase("planning")),
      perOp("compiles_per_op", "count")(_.compiles.toDouble),
      perOp("jobs_per_op", "count")(o => jobs(o.id).length.toDouble),
      perOp("stages_per_op", "count")(o => t.stagesOf(o.id).toDouble),
      perOp("tasks_per_op", "count")(o => tasks(o.id).length.toDouble),
      perOp("sched_wait_ms", "ms")(schedWait),
      perOp("task_run_ms", "ms")(taskSum(_.runMs.toDouble)),
      perOp("task_cpu_ms", "ms")(taskSum(_.cpuMs)),
      perOp("gc_ms", "ms")(_.gcMs.toDouble),
      perOp("deser_ms", "ms")(taskSum(_.deserMs.toDouble)),
      perOp("shuffle_read_bytes", "B")(taskSum(_.shuffleRead.toDouble)),
      perOp("shuffle_write_bytes", "B")(taskSum(_.shuffleWrite.toDouble)),
      perOp("input_bytes", "B")(taskSum(_.inputBytes.toDouble)),
      perOp("records_read", "count")(taskSum(_.records.toDouble)),
      perOp("regions_total", "count")(scan(_.regionsTotal)),
      perOp("regions_scanned", "count")(scan(_.regionsScanned)),
      perOp("read_partitions", "count")(scan(_.readPartitions)),
      "rows_read_per_row_returned" ->
        Metric(rowsRead.toDouble / math.max(1L, rowsReturned), "ratio", n),
      recorded("manifest_load_ms", "ms"),
      "live_regions" -> Metric(manifestCol("live_regions"), "count", 1),
      "log_segments" -> Metric(manifestCol("log_segments"), "count", 1),
      "write_job_ms" -> Metric(mean(writeJobs.map(_._1)), "ms", writes.length),
      "driver_commit_ms" -> Metric(mean(writeJobs.map(_._2)), "ms", writes.length),
      "files_written" -> Metric(h.written.size.toDouble, "count", writes.length),
      "bytes_written" -> Metric(h.written.values.sum.toDouble, "B", writes.length),
      "write_amp" -> Metric(writtenHere.toDouble / math.max(1L, liveHere), "ratio", writes.length),
      recorded("encode_ns_per_key", "ns"),
      selfMs("self_op_ms", "op"),
      selfMs("self_sql_ms", "spark.sql"),
      selfMs("self_plan_ms", "executedPlan"),
      selfMs("self_collect_ms", "collect"),
      selfMs("self_job_ms", "job"),
      selfMs("self_stage_ms", "stage"),
      selfMs("self_task_ms", "task"),
      perOp("unattributed_ms", "ms")(unattributed),
      "trace_overhead" -> Metric(overhead, "ratio", n)) ++
      h.layerMean("analyze_us", "us")
  }

  def tableDirOf(work: File, ident: String): File = {
    val Array(ns, t) = ident.split('.')
    new File(new File(new File(work, "warehouse"), ns), t)
  }

  /** Bytes of the live regions of every table under a namespace dir. */
  private def liveBytes(nsDir: File): Long =
    Option(nsDir.listFiles()).toSeq.flatten.filter(_.isDirectory).map { dir =>
      try TableMeta.loadRegions(dir).map(r => new File(dir, r.file).length).sum
      catch { case _: Exception => 0L }
    }.sum

  /** Writes every span (driver and engine) as one JSON array. */
  def dumpSpans(t: Tracer, f: File): Unit = {
    val all = t.spans.toSeq ++ t.engineSpans()
    val body = all.map(s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", "op": ${s.op}, """ +
        s""""start_us": ${s.startUs}, "end_us": ${s.endUs}}""")
    val ops = t.ops.map(o =>
      s"""{"op": ${o.id}, "class": "${o.cls}", "kind": "${o.kind}", "start_us": ${o.startUs}, """ +
        s""""end_us": ${o.endUs}, "compiles": ${o.compiles}, "rows": ${o.rowsReturned}}""")
    Files.write(f.toPath, (s"""{"ops": ${ops.mkString("[\n", ",\n", "]")},\n""" +
      s""""spans": ${body.mkString("[\n", ",\n", "]")}}\n""").getBytes(StandardCharsets.UTF_8))
  }
}
