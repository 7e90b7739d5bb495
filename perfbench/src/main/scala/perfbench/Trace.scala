package perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** One span: a call from the benchmark into one layer of the library. */
final case class Span(id: Int, parent: Int, layer: String, name: String, start: Long, var end: Long = -1L)

/** Per-task facts kept for attribution. Times are epoch milliseconds. */
final case class TaskRec(stage: Int, launch: Long, finish: Long, runMs: Long, cpuNs: Long,
                         shuffleWrite: Long, shuffleRead: Long, input: Long, inputRecords: Long, output: Long,
                         spill: Long, failed: Boolean)

/**
 * Spans opened by the benchmark around each call into the library, plus a
 * listener that records every job, stage and task. Attribution happens when
 * the run ends: a job belongs to the innermost span open when it was
 * submitted (there is one client thread, so open spans nest), and its
 * stages and tasks go with it. Everything is kept in memory until then.
 */
final class Tracer(sc: SparkContext) extends SparkListener {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  // listener-thread state
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private var stagesDone = 0
  private var stagesFailed = 0

  def open(layer: String, name: String): Span = {
    val s = Span(spans.length, stack.headOption.map(_.id).getOrElse(-1), layer, name, System.currentTimeMillis())
    spans += s
    stack.push(s)
    s
  }

  def close(s: Span): Unit = {
    s.end = System.currentTimeMillis()
    while (stack.nonEmpty && stack.top.id != s.id) stack.pop().end = s.end
    if (stack.nonEmpty) stack.pop()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(st => stageJob.getOrElseUpdate(st, e.jobId))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (e.stageInfo.failureReason.isDefined) stagesFailed += 1 else stagesDone += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = Option(e.taskMetrics)
    val info = e.taskInfo
    tasks += TaskRec(e.stageId, info.launchTime, info.finishTime,
      m.map(_.executorRunTime).getOrElse(0L), m.map(_.executorCpuTime).getOrElse(0L),
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(x => x.shuffleReadMetrics.localBytesRead + x.shuffleReadMetrics.remoteBytesRead).getOrElse(0L),
      m.map(_.inputMetrics.bytesRead).getOrElse(0L),
      m.map(_.inputMetrics.recordsRead).getOrElse(0L),
      m.map(_.outputMetrics.bytesWritten).getOrElse(0L),
      m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L),
      e.reason != Success)
  }

  /** The innermost span whose interval holds `t` (-1 when none does). */
  private def spanAt(t: Long): Int = {
    var best = -1
    spans.foreach { s =>
      if (s.start <= t && (s.end < 0 || t <= s.end)) best = s.id // later-opened spans nest inside earlier ones
    }
    best
  }

  /** Snapshot of everything recorded, attributed to spans. */
  def attribute(): Attribution = synchronized {
    val jobSpan = jobStart.map { case (j, t) => j -> spanAt(t) }.toMap
    val taskSpan = tasks.map(t => t -> stageJob.get(t.stage).flatMap(jobSpan.get).getOrElse(-1)).toSeq
    Attribution(spans.toIndexedSeq, jobSpan, stageJob.toMap, taskSpan, stagesDone, stagesFailed)
  }
}

final case class Attribution(spans: IndexedSeq[Span], jobSpan: Map[Int, Int], stageJob: Map[Int, Int],
                             tasks: Seq[(TaskRec, Int)], stagesDone: Int, stagesFailed: Int)

/** Interval arithmetic over [start, end) millisecond intervals. */
object Intervals {
  def union(xs: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val out = mutable.ArrayBuffer.empty[(Long, Long)]
    xs.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (out.nonEmpty && a <= out.last._2) out(out.length - 1) = (out.last._1, math.max(out.last._2, b))
      else out += ((a, b))
    }
    out.toSeq
  }

  def length(xs: Seq[(Long, Long)]): Long = union(xs).map(x => x._2 - x._1).sum

  /** `a` minus the union of `b`. */
  def minus(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val cut = union(b)
    union(a).flatMap { case (s, e) =>
      var pieces = List((s, e))
      cut.foreach { case (cs, ce) =>
        pieces = pieces.flatMap { case (ps, pe) =>
          if (ce <= ps || cs >= pe) List((ps, pe))
          else List((ps, cs), (ce, pe)).filter(x => x._2 > x._1)
        }
      }
      pieces
    }
  }
}

/**
 * Turns an [[Attribution]] into the per-layer measures: for each layer the
 * self time of its spans (span time minus child spans), the jobs submitted in
 * that self time, the floor (self time with none of those jobs' tasks
 * running), task CPU, busy fraction over `cores`, and the bytes its tasks
 * shuffled, scanned and wrote. `spark.*` are the engine totals.
 */
object LayerReport {
  val Layers: Seq[String] = Seq("sources", "pipeline", "dedup", "text", "write", "parquet", "diff", "ann", "core", "spark")
  val Measures: Seq[String] = Seq("self_s", "jobs", "floor_s", "task_cpu_s", "busy_frac",
    "shuffle_bytes", "scan_bytes", "written_bytes", "cache_delta")

  def layers(a: Attribution, cores: Int, cacheDelta: Map[String, Double],
             window: Seq[(Long, Long)]): Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    val children = a.spans.groupBy(_.parent)
    def selfIntervals(s: Span): Seq[(Long, Long)] =
      Intervals.minus(Seq((s.start, s.end)), children.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
    val tasksBySpan = a.tasks.groupBy(_._2).map { case (k, v) => k -> v.map(_._1) }
    val jobsBySpan = a.jobSpan.groupBy(_._2).map { case (k, v) => k -> v.size }
    def put(layer: String, self: Seq[(Long, Long)], jobs: Int, ts: Seq[TaskRec]): Unit = {
      val selfMs = Intervals.length(self)
      val taskIv = ts.map(t => (t.launch, t.finish))
      val floorMs = Intervals.length(Intervals.minus(self, taskIv))
      val runMs = ts.map(_.runMs).sum
      out(s"$layer.self_s") = selfMs / 1000.0
      out(s"$layer.jobs") = jobs.toDouble
      out(s"$layer.floor_s") = floorMs / 1000.0
      out(s"$layer.task_cpu_s") = ts.map(_.cpuNs).sum / 1e9
      out(s"$layer.busy_frac") = if (selfMs == 0) 0.0 else runMs.toDouble / (selfMs.toDouble * cores)
      out(s"$layer.shuffle_bytes") = ts.map(_.shuffleWrite).sum.toDouble
      out(s"$layer.scan_bytes") = ts.map(_.input).sum.toDouble
      out(s"$layer.written_bytes") = ts.map(_.output).sum.toDouble
      out(s"$layer.cache_delta") = cacheDelta.getOrElse(layer, 0.0)
    }
    Layers.filter(_ != "spark").foreach { layer =>
      val ss = a.spans.filter(_.layer == layer)
      put(layer, ss.flatMap(selfIntervals), ss.map(s => jobsBySpan.getOrElse(s.id, 0)).sum,
        ss.flatMap(s => tasksBySpan.getOrElse(s.id, Nil)))
    }
    put("spark", window, a.jobSpan.size, a.tasks.map(_._1))
    out("spark.stages") = (a.stagesDone + a.stagesFailed).toDouble
    out("spark.tasks") = a.tasks.size.toDouble
    out("spark.failed_tasks") = a.tasks.count(_._1.failed).toDouble
    out("spark.spill_bytes") = a.tasks.map(_._1.spill).sum.toDouble
    // time inside the measured operations that no layer span covers
    val covered = a.spans.filter(_.parent < 0).map(s => (s.start, s.end))
    out("trace.uncovered_s") = Intervals.length(Intervals.minus(window, covered)) / 1000.0
    out("trace.unattributed_jobs") = a.jobSpan.count(_._2 < 0).toDouble
    out.toMap
  }

  /** Spans and attributed counts as JSON, for the trace file. */
  def spansJson(a: Attribution): String = {
    val jobs = a.jobSpan.groupBy(_._2).map { case (k, v) => k -> v.size }
    val tasks = a.tasks.groupBy(_._2)
    a.spans.map { s =>
      val ts = tasks.getOrElse(s.id, Nil).map(_._1)
      s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}","name":"${Json.esc(s.name)}",""" +
        s""""start_ms":${s.start},"end_ms":${s.end},"jobs":${jobs.getOrElse(s.id, 0)},""" +
        s""""tasks":${ts.size},"task_cpu_s":${ts.map(_.cpuNs).sum / 1e9}}"""
    }.mkString("[", ",\n", "]")
  }
}

/** Wraps each call into the library. With no tracer it only runs the call. */
final class Calls(cache: () => Int) {
  var tracer: Option[Tracer] = None
  val cacheDelta: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)

  def apply[A](layer: String, name: String)(f: => A): A = tracer match {
    case None => f
    case Some(t) =>
      val before = cache()
      val s = t.open(layer, name)
      try f
      finally {
        t.close(s)
        cacheDelta(layer) += cache() - before
      }
  }
}
