package graft

import org.apache.spark.sql.SparkSession

/**
 * The session of every local main (`Bench`, `Verify`, `ScaleProbe`,
 * `PlanDump`): `local[cpus]` with one shuffle partition per core, UTC
 * session time, the UI off and the log at WARN. `app.DiffApp` builds its
 * own, because under `spark-submit` the master comes from the submitter.
 */
private[graft] object LocalSession {
  def apply(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is parquet TIMESTAMP(NANOS): read as long, session-wide and
      // order-independent (no per-query conf mutation)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
