package graft

import org.scalatest.funsuite.AnyFunSuite

/** The gate registry: one record per gate with a unique name, and oracles
  * resolved against the sf directory they are given. No Spark session:
  * building the records and resolving the oracle SQL runs nothing. */
class GateRegistrySuite extends AnyFunSuite {

  private val otherSf = "/data/testdata/sf0.1"

  test("258 gates with distinct names, each with a body and an oracle") {
    val names = SparkEntry.gates.map(_.name)
    assert(names.size == 258)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql(otherSf).keySet == names.toSet)
  }

  test("a gate name defined twice makes the derivation throw") {
    val dup = SparkEntry.gates :+ SparkEntry.gates.head
    val e = intercept[IllegalArgumentException](SparkEntry.byName(dup))
    assert(e.getMessage.contains(SparkEntry.gates.head.name))
  }

  test("no oracle resolved for another sf directory reads sf0.01 files") {
    val oracles = SparkEntry.oracleSql(otherSf)
    val stale = oracles.collect {
      case (name, sql) if sql.contains("sf0.01") || sql.contains("sf0_01") => name
    }
    assert(stale.isEmpty, s"oracles naming sf0.01 files: ${stale.toSeq.sorted.mkString(", ")}")
    assert(oracles("parquet_blocks").contains(s"$otherSf/lineitem.parquet"))
    assert(oracles("zonemap_prune").contains("/tmp/graft_zonemap_gate/sf0.1/out"))
    assert(oracles("layout_report").contains("/tmp/graft_layout_gate__data_testdata_sf0_1"))
  }
}
