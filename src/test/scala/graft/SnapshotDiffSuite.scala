package graft

import graft.diff.SnapshotDiff
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental snapshot diff: manifest rollup, change detection, static
  * partition pruning, and equality with the full diff on changed rows. */
class SnapshotDiffSuite extends AnyFunSuite with SparkTest {

  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_snapdiff").toString

  private def leftDf = Seq(
    (1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0),
    (4L, "b", 40.0), (5L, "c", 50.0), (6L, "d", 60.0)
  ).toDF("id", "p", "v")

  // vs left: partition a changes (id 2 value), b and d untouched,
  // c disappears (its only row deleted), e is new
  private def rightDf = Seq(
    (1L, "a", 10.0), (2L, "a", 21.0), (3L, "b", 30.0),
    (4L, "b", 40.0), (6L, "d", 60.0), (7L, "e", 70.0)
  ).toDF("id", "p", "v")

  test("manifest rollup equals the data-scan partition summary") {
    val (ld, rd) = (tmp(), tmp())
    SnapshotDiff.writePartitionedWithManifest(leftDf, ld, Seq("p"))
    SnapshotDiff.writePartitionedWithManifest(rightDf, rd, Seq("p"))
    val fromManifest = SnapshotDiff.partitionManifestSummary(spark, ld, Seq("p"))
      .orderBy("p").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val fromData = SnapshotDiff.partitionSummary(
      spark.read.parquet(ld), Seq("p"))
      .orderBy("p").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(fromManifest.toSeq == fromData.toSeq)
  }

  test("fingerprint is file-layout independent: repartitioned write agrees") {
    val (d1, d2) = (tmp(), tmp())
    SnapshotDiff.writePartitionedWithManifest(leftDf.repartition(1), d1, Seq("p"))
    SnapshotDiff.writePartitionedWithManifest(leftDf.repartition(4), d2, Seq("p"))
    val s1 = SnapshotDiff.partitionManifestSummary(spark, d1, Seq("p"))
    val s2 = SnapshotDiff.partitionManifestSummary(spark, d2, Seq("p"))
    val report = SnapshotDiff.changedPartitions(s1, s2, Seq("p")).collect()
    assert(report.forall(_.getAs[String]("status") == "unchanged"))
  }

  test("changedPartitions classifies added/removed/changed/unchanged") {
    val (ld, rd) = (tmp(), tmp())
    SnapshotDiff.writePartitionedWithManifest(leftDf, ld, Seq("p"))
    SnapshotDiff.writePartitionedWithManifest(rightDf, rd, Seq("p"))
    val got = SnapshotDiff.changedPartitions(
      SnapshotDiff.partitionManifestSummary(spark, ld, Seq("p")),
      SnapshotDiff.partitionManifestSummary(spark, rd, Seq("p")),
      Seq("p"))
      .collect().map(r => r.getString(0) -> r.getAs[String]("status")).toMap
    assert(got == Map("a" -> "changed", "b" -> "unchanged",
      "c" -> "removed", "d" -> "unchanged", "e" -> "added"))
  }

  test("diffSnapshots equals full diff minus unchanged-partition N rows") {
    val (ld, rd) = (tmp(), tmp())
    SnapshotDiff.writePartitionedWithManifest(leftDf, ld, Seq("p"))
    SnapshotDiff.writePartitionedWithManifest(rightDf, rd, Seq("p"))
    val inc = SnapshotDiff.diffSnapshots(spark, ld, rd, Seq("id"), Seq("p"))
      .orderBy("id").collect()
      .map(r => (r.getAs[String]("diff"), r.getAs[Long]("id")))
    // full diff over the same reads
    val full = graft.diff.Diff.of(
      spark.read.parquet(ld), spark.read.parquet(rd), "id")
      .where(col("diff") =!= "N" || !col("left_p").isin("b", "d"))
      .orderBy("id").collect()
      .map(r => (r.getAs[String]("diff"), r.getAs[Long]("id")))
    assert(inc.toSeq == full.toSeq)
    // ids 3, 4, 6 (unchanged partitions) never surface
    assert(!inc.map(_._2).toSet.exists(Set(3L, 4L, 6L)))
  }

  test("diffSnapshots without manifests detects by data scan: same rows as the manifest path") {
    def rows(ld: String, rd: String) =
      SnapshotDiff.diffSnapshots(spark, ld, rd, Seq("id"), Seq("p"))
        .collect().map(_.toString).sorted.toSeq
    val (ml, mr, pl, pr) = (tmp(), tmp(), tmp(), tmp())
    SnapshotDiff.writePartitionedWithManifest(leftDf, ml, Seq("p"))
    SnapshotDiff.writePartitionedWithManifest(rightDf, mr, Seq("p"))
    leftDf.write.mode("overwrite").partitionBy("p").parquet(pl)
    rightDf.write.mode("overwrite").partitionBy("p").parquet(pr)
    assert(!new java.io.File(s"$pl/_manifest").exists())
    val plain = rows(pl, pr)
    assert(plain == rows(ml, mr))
    // partitions a (changed), c (removed) and e (added) only
    assert(plain.length == 4)
  }

  test("identical snapshots produce an empty diff without reading data") {
    val (ld, rd) = (tmp(), tmp())
    SnapshotDiff.writePartitionedWithManifest(leftDf, ld, Seq("p"))
    SnapshotDiff.writePartitionedWithManifest(leftDf, rd, Seq("p"))
    assert(SnapshotDiff.diffSnapshots(spark, ld, rd, Seq("id"), Seq("p")).count() == 0)
  }

  test("pruning predicate reaches the scan as a partition filter") {
    val (ld, rd) = (tmp(), tmp())
    SnapshotDiff.writePartitionedWithManifest(leftDf, ld, Seq("p"))
    SnapshotDiff.writePartitionedWithManifest(rightDf, rd, Seq("p"))
    val plan = SnapshotDiff.diffSnapshots(spark, ld, rd, Seq("id"), Seq("p"))
      .queryExecution.executedPlan.toString
    // FileSourceScan shows PartitionFilters; our OR-of-AND predicate on p
    // must be inside them (not a post-scan Filter only)
    val pf = plan.linesIterator.filter(_.contains("PartitionFilters")).toSeq
    assert(pf.nonEmpty && pf.forall(_.contains("p#")),
      s"no partition filter in plan:\n$plan")
  }

  test("partition values with spaces round-trip through the manifest path") {
    val (ld, rd) = (tmp(), tmp())
    val l = Seq((1L, "NOT SPECIFIED", 1.0), (2L, "plain", 2.0)).toDF("id", "p", "v")
    val r = Seq((1L, "NOT SPECIFIED", 9.0), (2L, "plain", 2.0)).toDF("id", "p", "v")
    SnapshotDiff.writePartitionedWithManifest(l, ld, Seq("p"))
    SnapshotDiff.writePartitionedWithManifest(r, rd, Seq("p"))
    // manifest-derived values must equal the data-scan values (URI decode)
    val got = SnapshotDiff.partitionManifestSummary(spark, ld, Seq("p"))
      .select("p").collect().map(_.getString(0)).toSet
    assert(got == Set("NOT SPECIFIED", "plain"))
    // and the pruned diff still finds the change inside the spaced partition
    val d = SnapshotDiff.diffSnapshots(spark, ld, rd, Seq("id"), Seq("p"))
      .where(col("diff") === "C").collect()
    assert(d.map(_.getAs[Long]("id")).toSeq == Seq(1L))
  }

  test("partition values with literal '+' round-trip (no form-decode to space)") {
    val (ld, rd) = (tmp(), tmp())
    val l = Seq((1L, "c++", 1.0), (2L, "a+b", 2.0), (3L, "plain", 3.0))
      .toDF("id", "p", "v")
    val r = Seq((1L, "c++", 9.0), (2L, "a+b", 2.0), (3L, "plain", 3.0))
      .toDF("id", "p", "v")
    SnapshotDiff.writePartitionedWithManifest(l, ld, Seq("p"))
    SnapshotDiff.writePartitionedWithManifest(r, rd, Seq("p"))
    // manifest-derived values must equal the data-scan values: '+' stays '+'
    val got = SnapshotDiff.partitionManifestSummary(spark, ld, Seq("p"))
      .select("p").collect().map(_.getString(0)).toSet
    assert(got == Set("c++", "a+b", "plain"))
    // change detection keys match on-disk values, so the diff is not empty
    val d = SnapshotDiff.diffSnapshots(spark, ld, rd, Seq("id"), Seq("p"))
      .where(col("diff") === "C").collect()
    assert(d.map(_.getAs[Long]("id")).toSeq == Seq(1L))
  }

  test("a row moving partitions surfaces as C with the partition change") {
    val (ld, rd) = (tmp(), tmp())
    val l = Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "p", "v")
    val r = Seq((1L, "a", 1.0), (2L, "c", 2.0)).toDF("id", "p", "v")
    SnapshotDiff.writePartitionedWithManifest(l, ld, Seq("p"))
    SnapshotDiff.writePartitionedWithManifest(r, rd, Seq("p"))
    val rows = SnapshotDiff.diffSnapshots(spark, ld, rd, Seq("id"), Seq("p"))
      .where(col("id") === 2L).collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("diff") == "C")
    assert(rows.head.getAs[String]("left_p") == "b")
    assert(rows.head.getAs[String]("right_p") == "c")
  }

  test("the snapshot manifest holds the rows fileSummaryWith computes over the same directory") {
    val d = tmp()
    SnapshotDiff.writePartitionedWithManifest(leftDf.repartition(3), d, Seq("p"))
    def summary(rows: Seq[org.apache.spark.sql.Row]) = rows.map(r =>
      (r.getAs[String]("file"), r.getAs[Long]("rows"), r.getAs[Long]("fingerprint"))).toSet
    val written = summary(graft.write.Manifest.readManifestRows(spark, d))
    assert(written.toSeq.map(_._2).sum == 6L)
    assert(written == summary(graft.write.Manifest.fileSummaryWith(spark, d).collect().toSeq))
    // the documented fingerprint, spelled out: XOR of each row's xxhash64
    // over its JSON, per landed file
    val spelled = spark.read.parquet(d)
      .select(input_file_name().as("file"), xxhash64(to_json(struct(col("*")))).as("h"))
      .groupBy("file").agg(count(lit(1)).as("rows"), bit_xor(col("h")).as("fingerprint"))
    assert(written == summary(spelled.collect().toSeq))
  }
}
