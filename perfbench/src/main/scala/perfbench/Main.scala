package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.catalog.TableMeta

/** One benchmark run:
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --data <dir>
  * --work <dir> --results <dir>`, or `--generate <dir>` to write the base
  * data once.
  *
  * Computes the expected answers, builds the workload's tables (several
  * times; the median is `setup_s`), warms up, runs the closed loop for
  * `--seconds`, checks every answer, and prints the result as the last
  * stdout line. With `--trace 1` the loop alternates untraced and traced
  * blocks and the line carries the per-layer metrics instead. Exits 1
  * on any failed or wrong op. */
object Main {
  val Workloads = Seq("point_get", "olap", "ingest", "dedup")
  /** Setups per run; `setup_s` is their median. point_get's setup (four
    * bulk loads over 750k rows) runs once: three would not fit the
    * time the benchmark's full set of runs is allowed. */
  private def setupRepeats(workload: String): Int = if (workload == "point_get") 1 else 3

  private def session(work: File): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", new File(work, "warehouse").getPath)
      .config("spark.sql.catalog.graft.commitStore", "posix")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    args.get("generate").foreach { dir =>
      val target = new File(dir).getAbsoluteFile
      val spark = session(new File(target.getParentFile, "generate-work"))
      try BaseData.write(spark, target) finally spark.stop()
      Main.deleteRecursively(new File(target.getParentFile, "generate-work"))
      return
    }
    val workload = args("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val traced = args("trace") == "1"
    val work = new File(args("work")).getAbsoluteFile
    val results = new File(args("results")).getAbsoluteFile
    val data = new File(args("data")).getAbsoluteFile
    work.mkdirs(); results.mkdirs()
    val spark = session(work)
    val outcome =
      try run(spark, workload, seed, seconds, traced, work, data, results)
      finally spark.stop()
    val (line, report) = outcome
    val name = s"$workload-seed$seed-trace${if (traced) 1 else 0}.json"
    Files.write(new File(results, name).toPath, report.getBytes(StandardCharsets.UTF_8))
    println(s"[perfbench] full report: ${new File(results, name)}")
    println(line)
    if (!line.startsWith("{\"correct\": true")) sys.exit(1)
  }

  private def run(spark: SparkSession, name: String, seed: Long, seconds: Int,
      traced: Boolean, work: File, data: File, results: File): (String, String) = {
    val h = new Harness(spark, work, data, traced)
    h.setTracing(traced)
    val env = environment(spark)
    var w: Workload = name match {
      case "point_get" => new PointGet(h, seed)
      case "olap" => new Olap(h, seed)
      case "ingest" => new Ingest(h, seed)
      case "dedup" => new Dedup(h, seed)
    }
    phase("prepare")
    w.prepare()
    phase("setup")
    val setups = (0 until setupRepeats(name)).map { i =>
      if (i > 0) w.teardown()
      val t0 = System.nanoTime()
      w.setup(s"b$i")
      (System.nanoTime() - t0) / 1e9
    }
    phase("warmup")
    w.warmup()
    phase("measure")
    h.measuring = true
    // traced runs alternate ~1 s untraced and traced blocks, starting
    // untraced, so both halves see the same table and cache states
    val start = System.nanoTime()
    val deadline = start + seconds * 1000000000L
    var blockEnd = start
    var tracedBlock = true
    while (System.nanoTime() < deadline) {
      if (traced && System.nanoTime() >= blockEnd) {
        tracedBlock = !tracedBlock
        h.setTracing(tracedBlock)
        blockEnd = System.nanoTime() + 1000000000L
      }
      w.step()
      if (h.tracing) h.timeLayer("manifest_load_ms")(
        TableMeta.loadState(Layers.tableDirOf(work, w.mainTable)))
    }
    h.measuring = false
    phase("finish")
    if (traced) h.setTracing(true)
    w.finish()
    val manifest = spark.sql(s"CALL graft.sys.manifest(table => '${w.mainTable}')").head
    if (traced) h.setTracing(false)

    val correct = h.failed == 0
    val (gated, reportMetrics) =
      if (correct) w.endToEnd() else (Map.empty[String, Metric], Map.empty[String, Metric])
    val layers =
      if (traced) Layers.summary(h, w, manifest, work) ++ w.layers() else Map.empty[String, Metric]
    val mainTable = w.mainTable
    w = null
    val heapMb = liveHeapMb()
    phase("report")

    val setupS = Metric(Stats.median(setups), "s", setups.length)
    val e2e = gated ++ Map("setup_s" -> setupS, "heap_mb" -> Metric(heapMb, "MB", 1))
    val lineMetrics = if (!correct) Map.empty[String, Metric]
      else if (traced) layers.filter { case (k, _) => Layers.ResultLine.contains(k) }
      else e2e
    def json(ms: Map[String, Metric], samples: Boolean = true): String =
      ms.toSeq.sortBy(_._1).map { case (k, m) =>
        s""""$k": {"value": ${num(m.value)}, "unit": "${m.unit}"""" +
          (if (samples) s""", "samples": ${m.samples}}""" else "}")
      }.mkString("{", ", ", "}")
    val reportSeq = (e2e ++ reportMetrics).toSeq.sortBy(_._1)
    reportSeq.foreach { case (k, m) =>
      println(f"[perfbench] $name%s $k%-26s ${m.value}%14.4f ${m.unit}%-7s n=${m.samples}")
    }
    layers.toSeq.sortBy(_._1).foreach { case (k, m) =>
      println(f"[perfbench] $name%s layer $k%-26s ${m.value}%14.4f ${m.unit}%-7s n=${m.samples}")
    }
    val attempted = h.attempted
    val line = s"""{"correct": $correct, "attempted": $attempted, "failed": ${h.failed}, """ +
      s""""metrics": ${json(lineMetrics, samples = false)}}"""
    val spansFile = h.tracer.map { t =>
      val f = new File(results, s"spans-$name-seed$seed.json")
      Layers.dumpSpans(t, f)
      f.getName
    }
    val report =
      s"""{"workload": "$name", "seed": $seed, "seconds": $seconds, "trace": $traced,
         |"table": "$mainTable", "correct": $correct, "attempted": $attempted,
         |"failed": ${h.failed}, "setup_runs_s": ${setups.map(num).mkString("[", ", ", "]")},
         |"setup_steps_s": ${h.setupSteps.map { case (k, v) => s""""$k": ${num(v)}""" }.mkString("{", ", ", "}")},
         |"end_to_end": ${json(e2e ++ reportMetrics)},
         |"layers": ${json(layers)},
         |"samples_ms": ${h.samples.map { case (c, xs) =>
              s""""$c": ${xs.map(num).mkString("[", ", ", "]")}""" }.mkString("{", ", ", "}")},
         |"spans": ${spansFile.map(f => "\"" + f + "\"").getOrElse("null")},
         |"load_avg_end": ${num(ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage)},
         |"environment": $env}
         |""".stripMargin
    (line, report)
  }

  /** Progress on stderr, with seconds since the JVM started. */
  private def phase(name: String): Unit = System.err.println(
    f"[perfbench] ${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1f s: $name")

  /** JSON number with every digit the double carries. */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  /** Heap in use after full collections; the pauses let Spark's
    * context cleaner drop the shuffle and broadcast state the first
    * collection released. */
  private def liveHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** What a reader needs to reproduce or discount a run. */
  private def environment(spark: SparkSession): String = {
    val rt = Runtime.getRuntime
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName)
    val conf = spark.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" }.sortBy(_._1)
      .map { case (k, v) => s""""$k": "${v.replace("\\", "\\\\").replace("\"", "\\\"")}"""" }
    val load = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    s"""{"nproc": ${rt.availableProcessors}, "max_heap_mb": ${rt.maxMemory / 1048576},
       | "gc": ${gcs.map("\"" + _ + "\"").mkString("[", ", ", "]")},
       | "java": "${System.getProperty("java.version")}", "spark": "${spark.version}",
       | "commit_store": "posix", "flush_policy": "default", "load_avg_start": ${num(load)},
       | "session_conf": ${conf.mkString("{", ", ", "}")}}""".stripMargin
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
