package graft.diff

import graft.SparkTest
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

/** Diff planning cost. Spark's constraint propagation copies every
  * constraint that mentions an attribute once per alias of that bare
  * attribute, and the diff action mentions every value column, so a diff
  * that renames its value columns a second time in the output projection
  * plans in time exponential in its width. These tests pin the plan shape
  * that keeps it linear and a wide diff that must plan, join and
  * checkpoint quickly. */
class DiffPlanSuite extends AnyFunSuite with SparkTest {
  import spark.implicits._

  private def withCaseSensitive[T](on: Boolean)(f: => T): T = {
    val prev = spark.conf.get("spark.sql.caseSensitive")
    spark.conf.set("spark.sql.caseSensitive", on.toString)
    try f finally spark.conf.set("spark.sql.caseSensitive", prev)
  }

  /** The output projection of a diff result. */
  private def outputProjection(df: DataFrame): Project = df.queryExecution.analyzed match {
    case p: Project => p
    case other => fail(s"diff output is not a projection:\n$other")
  }

  test("the output projection aliases computed columns only, never a bare attribute") {
    val modes = Seq(DiffMode.ColumnByColumn, DiffMode.SideBySide, DiffMode.LeftSide,
      DiffMode.RightSide)
    for (mode <- modes; change <- Seq(false, true); ignore <- Seq(false, true);
         caseSensitive <- Seq(false, true); sparse <- Seq(false, true))
      withCaseSensitive(caseSensitive) {
        val label = s"$mode change=$change ignore=$ignore caseSensitive=$caseSensitive " +
          s"sparse=$sparse"
        val left = Seq((1, "a", 1.0, 7L), (2, "b", 2.0, 8L)).toDF("id", "name", "value", "ign")
        // case-insensitive sessions let the right side spell its columns its own way
        val rightNames = if (caseSensitive) Seq("id", "name", "value", "ign")
          else Seq("ID", "Name", "VALUE", "Ign")
        val right = Seq((1, "a", 1.5, 7L), (3, "c", 3.0, 9L)).toDF(rightNames: _*)
        val base = DiffOptions.default.withDiffMode(mode).withSparseMode(sparse)
        val options = if (change) base.withChangeColumn("changes") else base
        val diff = new Differ(options)
          .diff(left, right, Seq("id"), if (ignore) Seq("ign") else Seq.empty)
        val projection = outputProjection(diff).projectList
        val bare = projection.collect { case a @ Alias(_: Attribute, _) => a.name }
        assert(bare.isEmpty, s"$label: bare attributes re-aliased: ${bare.mkString(", ")}")
        val aliased = projection.collect { case a: Alias => a.name }
        val computed = Seq("diff") ++ (if (change) Seq("changes") else Nil) ++ Seq("id")
        if (sparse) assert(aliased.take(computed.length) == computed, label)
        else assert(aliased == computed, label)
      }
  }

  test("a 40-value-column diff plans, joins and checkpoints within a minute") {
    val width = 40
    val valueNames = (0 until width).map(j => s"c$j")
    def value(id: Int, j: Int): Int = id * width + j
    // ids 0-9 only left, 90-99 only right; every 7th shared id changes one column
    def changedColumn(id: Int): Option[Int] = if (id % 7 == 0) Some(id % width) else None
    def row(id: Int, side: String): Row = Row.fromSeq(id +: (0 until width).map(j =>
      if (side == "right" && changedColumn(id).contains(j)) value(id, j) + 1 else value(id, j)))
    val schema = org.apache.spark.sql.types.StructType(("id" +: valueNames).map(
      org.apache.spark.sql.types.StructField(_, org.apache.spark.sql.types.IntegerType)))
    def side(ids: Range, name: String): DataFrame = spark.createDataFrame(
      spark.sparkContext.parallelize(ids.map(row(_, name)), 2), schema)
    val left = side(0 until 90, "left")
    val right = side(10 until 100, "right")
    val keys = (0 until 100 by 3).toDF("id")

    val expected = (0 until 100).map { id =>
      val (action, changes) =
        if (id < 10) ("D", null)
        else if (id >= 90) ("I", null)
        else changedColumn(id).fold(("N", Seq.empty[String]))(j => ("C", Seq(s"c$j")))
      val l = if (id < 90) row(id, "left").toSeq.tail else Seq.fill(width)(null)
      val r = if (id >= 10) row(id, "right").toSeq.tail else Seq.fill(width)(null)
      Row.fromSeq(Seq(action, changes, id) ++ l.zip(r).flatMap { case (a, b) => Seq(a, b) })
    }.toSet

    implicit val ec: ExecutionContext = ExecutionContext.global
    val start = System.nanoTime()
    val work = Future {
      val diff = left.diff(right, DiffOptions.default.withChangeColumn("changes"), "id")
      val constraints = diff.queryExecution.optimizedPlan.constraints.size
      val joined = diff.join(keys, "id").count()
      val rows = diff.localCheckpoint(true).collect()
      (constraints, joined, rows)
    }
    val (constraints, joined, rows) = Await.result(work, 60.seconds)
    info(f"planned, joined and checkpointed in ${(System.nanoTime() - start) / 1e9}%.2f s " +
      s"($constraints output constraints)")
    assert(joined == keys.count())
    assert(rows.toSet == expected)
  }
}
