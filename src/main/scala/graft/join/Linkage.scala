package graft.join

import graft.functions.vectors
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/**
 * Record linkage — "are these two records the same real-world entity?" —
 * the classic two-stage blocking + verification shape (Fellegi-Sunter
 * lineage; the entity-resolution pass every multi-source ingest needs
 * before per-entity dedup can even be framed):
 *
 *  1. BLOCK: each side keys by the 4-char American Soundex of the name
 *     ([[graft.functions.vectors.soundex4]] — phonetically equal names
 *     collide, so "Jon"/"John" and "Smith"/"Smyth" meet without a cross
 *     join), optionally COMPOSED with extra blocking columns (soundex ⊕
 *     keys — standard ER practice when the phonetic key alone doesn't
 *     discriminate, e.g. city or zip alongside the name); candidates come
 *     from a plain hash equi-join on the composite code.
 *  2. VERIFY: every candidate scores with exact fixed-point Jaro-Winkler
 *     ([[graft.functions.vectors.jaro_winkler_fp]] — `floor(jw · 2^20)`
 *     in pure integer arithmetic, so the accept/reject decision replays
 *     bit-for-bit on any engine) and survives at `score_fp >= minScoreFp`.
 *
 * Scale shape: the only corpus-sized exchange is the equi-join on the
 * block code; both kernels are codegen'd per-row projections. A
 * degenerate block (every record coded the same — e.g. synthetic
 * "Customer#NNN" names) would turn the join quadratic, so the candidate
 * volume per block is counted first (two tiny per-code aggregates) and the
 * call FAILS FAST above `maxBlockPairs` — an oversized block means the
 * blocking key is inadequate for this data: compose a second blocking
 * column via `extraBlockLeft`/`extraBlockRight` rather than raising the
 * cap.
 */
object Linkage {

  /** 2^20-scaled default threshold: floor(0.92 * 2^20). */
  val DefaultMinScoreFp: Long = (0.92 * (1L << 20)).toLong

  /**
   * Soundex-blocked Jaro-Winkler linkage between `left` and `right`.
   * Output: `(id_a, id_b, score_fp)`, one row per accepted candidate.
   *
   * `extraBlockLeft`/`extraBlockRight` (positionally paired, rendered as
   * strings) compose injectively into the block key: two records meet
   * only when the soundex AND every extra key agree under null-safe
   * equality — a NULL extra key blocks only with other NULLs (a distinct
   * sentinel, never aliasing ''), and length-prefixed segments make any
   * in-value bytes harmless.
   *
   * The call holds no cache: the block-size probe and the candidate join
   * each scan the inputs and run the soundex projection once per side.
   */
  def linkRecords(left: DataFrame, right: DataFrame,
                  idLeft: Column, nameLeft: Column,
                  idRight: Column, nameRight: Column,
                  minScoreFp: Long = DefaultMinScoreFp,
                  maxBlockPairs: Long = 10L * 1000 * 1000,
                  extraBlockLeft: Seq[Column] = Nil,
                  extraBlockRight: Seq[Column] = Nil): DataFrame = {
    require(extraBlockLeft.size == extraBlockRight.size,
      s"extra blocking columns must pair up: ${extraBlockLeft.size} left " +
        s"vs ${extraBlockRight.size} right")
    // injective key composition: every component renders length-prefixed
    // ("<len>:<value>"), so no in-value byte can alias two distinct
    // composite keys (a separator-joined key could be smuggled); a NULL
    // component renders as the sentinel "n" — value segments always start
    // with a digit, so a NULL extra key collides with nothing, not even
    // '' ("0:") — and nothing is silently dropped the way concat_ws
    // drops NULLs
    def blockKey(base: Column, extras: Seq[Column]): Column = {
      def seg(c: Column): Column = {
        val v = c.cast("string")
        when(v.isNull, lit("n"))
          .otherwise(concat(length(v).cast("string"), lit(":"), v))
      }
      if (extras.isEmpty) base else concat((seg(base) +: extras.map(seg)): _*)
    }
    def side(df: DataFrame, idc: Column, namec: Column, idName: String,
             nameName: String, extras: Seq[Column]): DataFrame =
      df.select((idc.cast("long").as(idName) +: namec.as(nameName) +:
          extras.zipWithIndex.map { case (c, i) => c.as(s"__xb$i") }): _*)
        .filter(col(nameName).isNotNull)
        .withColumn("__blk", blockKey(vectors.soundex4(col(nameName)),
          extras.indices.map(i => col(s"__xb$i"))))
        .select(col(idName), col(nameName), col("__blk"))
    val l = side(left, idLeft, nameLeft, "id_a", "__name_a", extraBlockLeft)
    val r = side(right, idRight, nameRight, "id_b", "__name_b", extraBlockRight)
    val worst = l.groupBy(col("__blk")).count().withColumnRenamed("count", "nl")
      .join(r.groupBy(col("__blk")).count().withColumnRenamed("count", "nr"), "__blk")
      .select(max(col("nl") * col("nr")).as("pairs"))
      .head()
    val worstPairs = if (worst.isNullAt(0)) 0L else worst.getLong(0)
    require(worstPairs <= maxBlockPairs,
      s"largest block yields $worstPairs candidate pairs " +
        s"(> maxBlockPairs=$maxBlockPairs) — the blocking key does not " +
        "discriminate this data; compose a second blocking column " +
        "(extraBlockLeft/extraBlockRight) or raise the cap deliberately")
    l.join(r, "__blk")
      .withColumn("score_fp", vectors.jaro_winkler_fp(col("__name_a"), col("__name_b")))
      .filter(col("score_fp") >= minScoreFp)
      .select(col("id_a"), col("id_b"), col("score_fp"))
  }
}
