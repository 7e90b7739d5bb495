package graft.sample

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.storage.StorageLevel

/**
 * Diversity coreset selection — k-center greedy (Gonzalez farthest-first
 * traversal), the classic 2-approximation behind coreset/active-learning
 * data selection: pick the point farthest from everything selected so
 * far, k times, so the selected set COVERS the embedding space (max
 * distance from any point to its nearest center is within 2× optimal).
 * The complement of diversity-blind sampling: P20's hash sample keeps
 * density, this keeps SPREAD.
 *
 * Exactness discipline: distances are computed on the P72 int8-quantized
 * codes as EXACT integer squared-L2 (`||a||² + ||b||² − 2·a·b`, every
 * term a [[graft.functions.VectorKernels.int8Dot]] Long) — argmax
 * comparisons never touch a float, so the selection is bit-reproducible
 * across engines/hosts and the gate replays it from an independent
 * integer replication. Seed = smallest id; ties = smallest id.
 *
 * Geometry note: int8 codes are per-vector scaled (each vector by its
 * own max-abs), so code-space squared-L2 measures ANGULAR spread,
 * magnitude-free — the natural diversity metric for cosine-embedding
 * models (and the same geometry every ann_int8 tier scores in). A
 * magnitude-sensitive selection would quantize with a global scale
 * upstream instead.
 *
 * Scale shape: one quantization pass cached, then k rounds of (narrow
 * codegen dot against the newest center's LITERAL codes + fold into the
 * running min + one TakeOrdered(1) collect), each round localCheckpointed
 * so the work is O(k·N) kernel time with k materializations — the
 * textbook distributed farthest-first, no pairwise joins anywhere. k is
 * driver-bounded (require ≤ 4096): selections and their radii live on
 * the driver, k rows total.
 */
object Coreset {

  /**
   * Select `k` centers. Output (driver-sized, k rows):
   * `(rank, <id column name>, d2)` — selection order from 1, the chosen
   * id, and the EXACT integer squared-L2 (in int8 code units) from the
   * chosen point to its nearest earlier center (`0` for the seed; the
   * sequence is non-increasing — the covering-radius curve a curator
   * reads to pick k). Rows with a null embedding are excluded.
   */
  def kCenterSelect(df: DataFrame, id: Column, vec: Column, k: Int): DataFrame = {
    require(k > 0 && k <= 4096, s"k must be in [1, 4096]: $k")
    val spark = df.sparkSession
    val v = graft.functions.vectors
    val prep = df.filter(vec.isNotNull)
      .select(id.cast("long").as("__id"), v.int8_encode(vec).as("__c"))
      .withColumn("__nn", v.int8_dot(col("__c"), col("__c")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val seed = prep.orderBy(col("__id").asc).limit(1).collect()
      if (seed.isEmpty) {
        import spark.implicits._
        return Seq.empty[(Int, Long, Long)].toDF("rank", "id", "d2")
      }
      def distTo(cBytes: Array[Byte], cNN: Long): Column =
        col("__nn") + lit(cNN) - lit(2L) * v.int8_dot(col("__c"), lit(cBytes))
      val picks = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
      var center = seed.head
      picks += ((1, center.getLong(0), 0L))
      // selected points leave the pool: re-selection (all-remaining-
      // duplicates, k > distinct points) is structurally impossible and
      // the loop terminates by exhaustion instead
      var cur = prep.filter(col("__id") =!= center.getLong(0))
        .withColumn("__d",
          distTo(center.getAs[Array[Byte]](1), center.getLong(2)))
      var t = 2
      var exhausted = false
      while (t <= k && !exhausted) {
        // truncate lineage each round: the fold stays O(N) per round
        cur = cur.localCheckpoint(true)
        val next = cur.orderBy(col("__d").desc, col("__id").asc)
          .limit(1).collect()
        if (next.isEmpty) exhausted = true
        else {
          center = next.head
          picks += ((t, center.getLong(0), center.getLong(3)))
          cur = cur.filter(col("__id") =!= center.getLong(0))
            .withColumn("__d", least(col("__d"),
              distTo(center.getAs[Array[Byte]](1), center.getLong(2))))
          t += 1
        }
      }
      import spark.implicits._
      picks.toSeq.toDF("rank", "id", "d2")
    } finally prep.unpersist()
  }
}
