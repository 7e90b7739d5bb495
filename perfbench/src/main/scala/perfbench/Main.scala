package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBridge, SparkFiles}
import org.apache.spark.sql.SparkSession

/**
 * One benchmark run: set a workload up several times from its seed, run its
 * timed operations for a fixed time (at least one), check every output and
 * print the metrics. The first operation runs in the JVM that did the set-ups,
 * as a batch job would. With `--trace 1` every other operation after the first runs inside
 * spans and a listener, and the run prints the per-layer measures instead.
 *
 * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *             --root <work dir> --trace-dir <dir>
 *        Main --selftest --root <work dir>
 *        Main --train --root <work dir>
 *
 * `--train` runs every workload once on a tenth-size input and reports
 * nothing; the build runs it once so the JVM can record the classes the
 * workloads load into the class-data archive every measured run maps.
 */
object Main {
  final case class Metric(name: String, value: Double, unit: String)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap ++
      args.filter(a => a == "--selftest" || a == "--train").map(_.drop(2) -> "1")
    val root = new File(opts.getOrElse("root", sys.error("--root is required"))).getAbsoluteFile
    root.mkdirs()
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(root, "spark-local").toString)
      .config("spark.sql.warehouse.dir", new File(root, "warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ok =
      try {
        if (opts.contains("selftest")) SelfTest.run(spark, new File(root, "selftest"))
        else if (opts.contains("train")) {
          train(spark, root)
          true
        } else {
          run(spark, cores, opts("workload"), opts("seed").toLong, opts("seconds").toDouble,
            opts.getOrElse("trace", "0") == "1", root, new File(opts.getOrElse("trace-dir", root.toString)))
          true
        }
      } finally spark.stop()
    if (!ok) sys.exit(1)
  }

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** The highest sample with at least ten samples above it, and its
    * percentile; NaN with fewer than eleven samples. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.length < 11) (Double.NaN, Double.NaN)
    else (s(s.length - 11), 100.0 * (s.length - 10) / s.length)
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete()
  }

  private def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  private def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)

  private val t0 = System.nanoTime()
  /** Phase marks on stderr, so the cost of each phase of a run shows. */
  private def mark(phase: String): Unit =
    System.err.println(f"perfbench: ${(System.nanoTime() - t0) / 1e9}%8.2f s  $phase")

  private def train(spark: SparkSession, root: File): Unit = Workloads.Names.foreach { name =>
    val w = Workloads(name, spark, 1L, new Calls(() => 0), small = true)
    w.setup(new File(root, s"train-$name"))
    w.op(0).checks()
    w.finish()
    mark(s"trained $name")
  }

  def run(spark: SparkSession, cores: Int, name: String, seed: Long, seconds: Double,
          trace: Boolean, root: File, traceDir: File): Unit = {
    mark("session up")
    val sc = spark.sparkContext
    val (calib1Before, calibNBefore) = Host.calibrate(cores)
    val calls = new Calls(() => Host.cacheEntries(spark))

    // set up a fixed number of times, keep the last; setup_s is the median
    var w: Workload = Workloads(name, spark, seed, calls)
    var lastDir: File = null
    val setupTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (setupTimes.length < w.setupRepeats) {
      val dir = new File(root, s"setup${setupTimes.length}")
      val candidate = Workloads(name, spark, seed, calls)
      System.gc()
      val (_, t) = time(candidate.setup(dir))
      if (lastDir != null) deleteTree(lastDir)
      w = candidate
      lastDir = dir
      setupTimes += t
    }
    mark("setup done")

    val tempRoots = Seq(new File(SparkFiles.getRootDirectory()), new File(System.getProperty("java.io.tmpdir")))
    val tempBefore = Host.tempEntries(tempRoots)
    val tracer = new Tracer(sc)
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

    val latencies = scala.collection.mutable.ArrayBuffer.empty[Double]
    val tracedTimes, plainTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
    val window = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val tracedOps = scala.collection.mutable.Set.empty[Int]
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    var timed, lastDt, cpuS = 0.0
    var items, tracedItems, attempted, failed = 0L
    var i = 0
    // Operations run until `seconds` of operation time, at least one. The
    // first follows the set-ups in the same JVM, as a batch job would, and is measured. A
    // traced run runs that cold operation untraced, then alternates traced
    // and untraced ones, at least one of each: the layer measures come from
    // the warm traced operations and the overhead compares the two kinds.
    while (w.hasNext(i) && (i == 0 || timed + lastDt <= seconds || (trace && i < 3))) {
      val traced = trace && i % 2 == 1
      if (traced) {
        sc.addSparkListener(tracer)
        calls.tracer = Some(tracer)
      }
      // no collection of an earlier operation's garbage lands in this one's time
      System.gc()
      val startMs = System.currentTimeMillis()
      val cpu0 = processCpuNs()
      val (result, dt) = time(scala.util.Try(w.op(i)))
      cpuS += (processCpuNs() - cpu0) / 1e9
      if (traced) {
        window += ((startMs, System.currentTimeMillis()))
        PerfbenchBridge.drainListeners(sc)
        sc.removeSparkListener(tracer)
        calls.tracer = None
        tracedTimes += dt
        tracedOps += i
      } else if (i > 0) plainTimes += dt
      attempted += 1
      val checks = result.flatMap(op => scala.util.Try(op.checks())) match {
        case scala.util.Success(cs) => cs
        case scala.util.Failure(e) => Seq(Check(s"op raised ${e.getClass.getSimpleName}: ${e.getMessage}", ok = false))
      }
      if (checks.exists(!_.ok)) {
        failed += 1
        failures ++= checks.filterNot(_.ok).map(c => s"op $i: ${c.name}")
      }
      timed += dt
      lastDt = dt
      result.foreach { op =>
        items += op.items
        if (traced) tracedItems += op.items
        if (op.items > 0) latencies += dt
      }
      i += 1
    }
    mark("window done")
    val finalChecks = scala.util.Try(w.finish()).recover {
      case e => Seq(Check(s"finish raised ${e.getClass.getSimpleName}: ${e.getMessage}", ok = false))
    }.get
    attempted += finalChecks.length
    failed += finalChecks.count(!_.ok)
    failures ++= finalChecks.filterNot(_.ok).map(c => s"end: ${c.name}")

    // leftover-state census, with no clearCache()
    val cacheLeft = Host.cacheEntries(spark)
    val activeJobs = Host.activeJobs(spark)
    val tempLeft = Host.tempEntries(tempRoots) - tempBefore
    mark("checks done")
    val (calib1After, calibNAfter) = Host.calibrate(cores)
    mark("calibrated")
    def calibRatio(single: Double, par: Double) = par * cores / single

    val (tailV, tailP) = tail(latencies.toSeq)
    // the generic names the JSON result uses, then the printed report, which
    // names throughput and latency after the workload's own unit and operation
    val generic = Seq(
      Metric("setup_s", median(setupTimes.toSeq), "s"),
      Metric("items_per_s", items / timed, "1/s"),
      Metric("op_p50_s", median(latencies.toSeq), "s"),
      Metric("op_tail_s", tailV, "s"),
      Metric("stored_bytes_per_input_byte", w.storedBytes.toDouble / w.inputBytes, "ratio"),
      Metric("cpu_s_per_item", cpuS / items, "s"))
    val report = Seq(
      generic(0),
      Metric(s"${w.unit}_per_s", generic(1).value, s"${w.unit}/s"),
      Metric(s"${w.opName}_p50_s", generic(2).value, "s"),
      Metric(s"${w.opName}_tail_s", tailV, "s"),
      Metric(s"${w.opName}_tail_percentile", tailP, "%"),
      Metric(s"${w.opName}_samples", latencies.length.toDouble, "count"),
      generic(4),
      generic(5),
      Metric("failed_ratio", failed.toDouble / attempted, "ratio"),
      Metric("ops_attempted", attempted.toDouble, "count"),
      Metric("cache_entries_left", cacheLeft.toDouble, "count"),
      Metric("active_jobs_left", activeJobs.toDouble, "count"),
      Metric("temp_dirs_left", tempLeft.toDouble, "count"),
      Metric("calib_ratio_before", calibRatio(calib1Before, calibNBefore), "ratio"),
      Metric("calib_ratio_after", calibRatio(calib1After, calibNAfter), "ratio")) ++
      w.extra().toSeq.map { case (k, v) => Metric(k, v, "ratio") }

    println(s"# perfbench workload=$name seed=$seed cores=$cores trace=${if (trace) 1 else 0} " +
      s"timed_s=${"%.3f".format(timed)} ops=$i")
    report.foreach(m => println(f"# ${m.name}%-28s ${m.value}%14.6f ${m.unit}"))
    println("# op_seconds " + latencies.map(x => "%.3f".format(x)).mkString(" "))
    failures.foreach(f => println(s"# FAILED $f"))

    val metrics: Seq[Metric] =
      if (!trace) generic.filter(m => Main.EndToEnd.contains(m.name))
      else {
        val a = tracer.attribute()
        val perOp = math.max(tracedTimes.length, 1).toDouble
        val layers = LayerReport.layers(a, cores, calls.cacheDelta.toMap, window.toSeq)
        def spanInput(n: String): (Double, Double) = {
          val ids = a.spans.filter(_.name == n).map(_.id).toSet
          val ts = a.tasks.filter(t => ids(t._2)).map(_._1)
          (ts.map(_.inputRecords).sum.toDouble, ts.map(_.input).sum.toDouble)
        }
        val ratios = w.ratios(tracedOps.toSet, spanInput)
        val textCpu = layers("text.task_cpu_s")
        val all: Map[String, Double] = layers.map { case (k, v) =>
          k -> (if (k.endsWith(".busy_frac")) v else v / perOp)
        } ++ ratios ++ Map(
          "text.tokens_per_cpu_s" -> (if (textCpu > 0) ratios.getOrElse("text.tokens", 0.0) / textCpu else 0.0),
          "spark.heap_peak_mb" -> heapPeakMb(),
          "spark.jobs_per_item" -> a.jobSpan.size / math.max(tracedItems.toDouble, 1.0),
          "trace.ops" -> tracedTimes.length.toDouble,
          "trace.overhead_frac" -> (if (plainTimes.isEmpty) 0.0 else median(tracedTimes.toSeq) / median(plainTimes.toSeq) - 1),
          "census.cache_entries" -> cacheLeft.toDouble,
          "census.active_jobs" -> activeJobs.toDouble,
          "census.temp_dirs" -> tempLeft.toDouble,
          "host.calib_ratio_before" -> calibRatio(calib1Before, calibNBefore),
          "host.calib_ratio_after" -> calibRatio(calib1After, calibNAfter))
        traceDir.mkdirs()
        val file = new File(traceDir, s"$name-seed$seed.json")
        val perLayer = Json.obj(PerLayer.map(k => k -> Json.num(all.getOrElse(k, 0.0))))
        java.nio.file.Files.write(file.toPath, (Json.obj(Seq(
          "workload" -> s""""$name"""", "seed" -> seed.toString, "cores" -> cores.toString,
          "ops" -> i.toString, "per_layer" -> perLayer, "spans" -> LayerReport.spansJson(a))) + "\n")
          .getBytes("UTF-8"))
        println(s"# trace written to $file")
        PerLayer.map(k => Metric(k, all.getOrElse(k, 0.0), unitOf(k)))
      }
    println(Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map(m =>
        m.name -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> s""""${m.unit}"""")))))))
  }

  /** End-to-end metrics, printed with `--trace 0`. */
  val EndToEnd: Seq[String] = Seq("setup_s", "items_per_s", "cpu_s_per_item", "stored_bytes_per_input_byte")

  /** Per-layer metrics, printed with `--trace 1`. */
  val PerLayer: Seq[String] =
    (for (l <- LayerReport.Layers; m <- LayerReport.Measures) yield s"$l.$m") ++ Seq(
      "spark.stages", "spark.tasks", "spark.failed_tasks", "spark.spill_bytes", "spark.heap_peak_mb",
      "spark.jobs_per_item",
      "pipeline.keep_ratio", "pipeline.keep_base", "dedup.dup_ratio", "dedup.dup_base",
      "diff.scan_fraction", "diff.scan_base_bytes", "ann.rows_per_result", "ann.results",
      "text.tokens_per_cpu_s", "text.tokens", "write.files_per_call", "write.calls",
      "trace.ops", "trace.overhead_frac", "trace.uncovered_s", "trace.unattributed_jobs",
      "census.cache_entries", "census.active_jobs", "census.temp_dirs",
      "host.calib_ratio_before", "host.calib_ratio_after")

  def unitOf(k: String): String = k.split('.').last match {
    case "self_s" | "floor_s" | "task_cpu_s" | "uncovered_s" => "s"
    case "shuffle_bytes" | "scan_bytes" | "written_bytes" | "spill_bytes" | "scan_base_bytes" => "bytes"
    case "heap_peak_mb" => "MB"
    case "tokens_per_cpu_s" => "1/s"
    case "busy_frac" | "keep_ratio" | "dup_ratio" | "scan_fraction" | "overhead_frac" |
         "calib_ratio_before" | "calib_ratio_after" | "rows_per_result" | "files_per_call" |
         "jobs_per_item" => "ratio"
    case _ => "count"
  }
}
