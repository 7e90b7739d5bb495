package graft

import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.graftext.drainListeners
import org.apache.spark.sql.util.QueryExecutionListener
import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for named SparkEntry queries to files —
  * the optimization-round evidence trail (plans/<topic>/<query>_{before,after}.txt).
  * Each dump opens with the driver's planning cost: the query's
  * `QueryPlanningTracker` phase times, its slowest optimizer rules, and
  * the time and size of the optimized plan's `constraints` (Catalyst's
  * constraint propagation, which `InferFiltersFromConstraints`, every
  * `checkpoint` and every join onto the result pay for again). After the
  * returned frame's plan it lists the pre-AQE physical plan (`sparkPlan`)
  * of every action the gate itself ran (counts, checkpoints, writes): a
  * gate that returns driver-built rows, like the curation reports, shows
  * its real work there, and the `sparkPlan` does not depend on which
  * shuffle stage AQE saw finish first, so two dumps compare plan for plan.
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
      val actions = new ActionPlans
      spark.listenerManager.register(actions)
      val df =
        try SparkEntry.queries(name)(spark, sfDir)
        finally {
          drainListeners(spark.sparkContext)
          spark.listenerManager.unregister(actions)
        }
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"),
        planningHeader(df.queryExecution) + txt + actions.render)
      spark.catalog.clearCache()
      println(s"dumped $name")
    }
    spark.stop()
  }

  /** The pre-AQE physical plan of every action that ends while registered,
    * in the order the actions ended (the listener bus delivers on one
    * thread). */
  private final class ActionPlans extends QueryExecutionListener {
    private val plans = scala.collection.mutable.ArrayBuffer.empty[String]

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronized { plans += s"$funcName\n${nodes(qe.sparkPlan)}" }

    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      synchronized { plans += s"$funcName failed: ${exception.getMessage}\n" }

    def render: String = synchronized {
      plans.zipWithIndex.map { case (plan, i) => s"\n== action ${i + 1}: $plan" }
        .mkString(s"\n== ${plans.size} actions run by the gate ==\n", "", "")
    }
  }

  /** `plan` one node per line, indented by depth. Under a cache scan
    * comes the pre-AQE plan of the cached query, not the AQE plan it
    * finally ran (which Spark's own tree string prints). */
  private def nodes(plan: SparkPlan, depth: Int = 0): String = {
    val children = plan match {
      case scan: InMemoryTableScanExec => scan.relation.cachedPlan match {
        case aqe: AdaptiveSparkPlanExec => Seq(aqe.inputPlan)
        case cached => Seq(cached)
      }
      case other => other.children
    }
    "  " * depth + plan.simpleString(SQLConf.get.maxToStringFields) + "\n" +
      children.map(nodes(_, depth + 1)).mkString
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
