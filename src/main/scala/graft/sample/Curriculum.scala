package graft.sample

import graft.agg.PrefixSum
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/**
 * Deterministic curriculum ordering — the pacing step of curriculum
 * learning (Bengio et al. 2009; modern LLM recipes stage "easy → hard" or
 * "low-quality-last" data): emit the corpus in `bands` difficulty bands by
 * a score column, SHUFFLED within each band, with a global `order_id` a
 * training loader can range-read.
 *
 * Engine-reproducible by construction (no RNG, no floats beyond the
 * caller's score column):
 *   - `rank`  = position under (score, id) — total order, ties by id;
 *   - `band`  = `(rank - 1) * bands div n` (exact integer split — band
 *     sizes differ by at most one row);
 *   - within-band shuffle key = `md5(salt || id)` (the repo's standard
 *     deterministic draw), ties by id;
 *   - `order_id` = position under (band, shuffle key, id).
 *
 * Scale shape: the two global positions are running counts from
 * [[PrefixSum.withRunningTotal]] — the 3-phase distributed prefix sum
 * (range-partitioned sort + per-partition offsets), NEVER a
 * single-partition window; `n` rides a broadcast one-row aggregate. The
 * shuffle-within-band matters: without it a band replays the score order
 * and the loader sees a monotone difficulty gradient INSIDE every band,
 * which curriculum recipes specifically avoid.
 */
object Curriculum {

  /** @param bandCol / `orderCol`: OUTPUT column names (default `band` /
    *   `order_id`). They must not already exist on `df` — this fails fast
    *   instead of silently overwriting a caller column. */
  def curriculumOrder(df: DataFrame, id: Column, score: Column,
                      bands: Int, salt: String,
                      bandCol: String = "band",
                      orderCol: String = "order_id"): DataFrame = {
    require(bands >= 1 && bands <= (1 << 20), s"bands out of range: $bands")
    require(!df.columns.contains(bandCol) && !df.columns.contains(orderCol),
      s"output columns '$bandCol'/'$orderCol' already exist on the input — " +
        "pass bandCol/orderCol to avoid overwriting caller data")
    require(bandCol != orderCol,
      s"bandCol and orderCol must differ, got '$bandCol'")
    val p = graft.functions.distinctPrefixFor(df.columns.toSeq)
    val rankCol = p + "rank"
    val keyCol = p + "key"
    val nCol = p + "n"

    val ranked = PrefixSum.withRunningTotal(
      df.withColumn(keyCol, md5(concat(lit(salt), id.cast("string")))),
      lit(1L), Seq(score.asc, id.asc), rankCol, exclusive = false)
    val withN = ranked.crossJoin(
      broadcast(ranked.agg(count(lit(1)).as(nCol))))
    val banded = withN
      .withColumn(bandCol, expr(s"(($rankCol - 1L) * $bands) div $nCol"))
      .drop(rankCol, nCol)
    PrefixSum.withRunningTotal(banded, lit(1L),
      Seq(col(bandCol).asc, col(keyCol).asc, id.asc), orderCol, exclusive = false)
      .drop(keyCol)
  }
}
