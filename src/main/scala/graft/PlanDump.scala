package graft

import org.apache.spark.sql.execution.QueryExecution
import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for named SparkEntry queries to files —
  * the optimization-round evidence trail (plans/<topic>/<query>_{before,after}.txt).
  * Each dump opens with the driver's planning cost: the query's
  * `QueryPlanningTracker` phase times, its slowest optimizer rules, and
  * the time and size of the optimized plan's `constraints` (Catalyst's
  * constraint propagation, which `InferFiltersFromConstraints`, every
  * `checkpoint` and every join onto the result pay for again).
  * Usage: PlanDump <sfDir> <outDir> <suffix> <query> [query...] */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: PlanDump <sfDir> <outDir> <suffix> <query>...")
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args.drop(3).toSeq
    val unknown = names.toSet.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      spark.sparkContext.setJobDescription(s"plandump: $name")
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"),
        planningHeader(df.queryExecution) + txt)
      spark.catalog.clearCache()
      println(s"dumped $name")
    }
    spark.stop()
  }

  /** Comment lines with the planning cost of an already planned query. */
  private def planningHeader(qe: QueryExecution): String = {
    val tracker = qe.tracker
    val phases = tracker.phases.toSeq.sortBy(_._2.startTimeMs)
      .map { case (phase, summary) => s"$phase ${summary.durationMs} ms" }
    val rules = tracker.topRulesByTime(5).map { case (rule, summary) =>
      f"${rule.split('.').last} ${summary.totalTimeNs / 1e6}%.1f ms " +
        s"(${summary.numEffectiveInvocations}/${summary.numInvocations} effective)"
    }
    val start = System.nanoTime()
    val constraints = qe.optimizedPlan.constraints.size
    val constraintsMs = (System.nanoTime() - start) / 1e6
    Seq(s"# planning phases: ${phases.mkString(", ")}",
      s"# slowest rules: ${rules.mkString(", ")}",
      f"# optimizedPlan.constraints: $constraints expressions in $constraintsMs%.1f ms",
      "").mkString("\n")
  }
}
