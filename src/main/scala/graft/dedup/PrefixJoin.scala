package graft.dedup

import graft.UnpersistHandle
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/**
 * EXACT set-similarity self-join via prefix filtering (the AllPairs /
 * PPJoin family — Bayardo et al., WWW 2007; Xiao et al., WWW 2008): every
 * pair with Jaccard >= threshold is in the output, guaranteed. The
 * complement to [[Dedup.nearDupPairsMinHash]]: MinHash banding trades
 * recall for speed (a pair can miss every band), this operator trades
 * nothing — it is the referee you can afford to run at scale, because the
 * candidate space is cut by a THEOREM instead of by chance.
 *
 * Prefix filter: fix any global total order over shingles. A pair (x, y)
 * with J(x, y) >= t has overlap |x ∩ y| >= t·max(|x|, |y|) (since the union
 * is at least the larger set), so if y shares NO shingle among the first
 * |x| - ceil(t·|x|) + 1 of x's shingles, the remaining ceil(t·|x|) - 1
 * shingles cannot reach the required overlap — a qualifying pair MUST
 * collide inside both prefixes. Only prefixes are indexed and equi-joined.
 *
 * The global order is ascending document frequency (rarest first, ties by
 * hash): prefixes then hold each document's RAREST shingles, so the
 * candidate join's key distribution is anti-skewed by construction —
 * boilerplate shingles shared by millions of documents sort LAST and stay
 * out of every large document's prefix. No bucket cap is applied (a cap
 * would break exactness); the residual quadratic term is confined to
 * documents that genuinely share rare shingles, which is output-bounded.
 *
 * Plan at 100 TB: one map-side-combined frequency aggregate over the
 * shingle stream, one hash join of the stream against the (shingle, df)
 * table, one per-document window to rank (hash-partitioned by id — never a
 * global sort), then an equi-join of prefix rows (~(1 - t) of the shingle
 * stream) carrying only (shingle, id, len). Shingle ARRAYS never enter the
 * candidate exchange; the exact-Jaccard verify joins them back per
 * candidate, exactly like the MinHash verifier.
 */
object PrefixJoin {

  /**
   * All pairs of documents with word-shingle Jaccard >= `threshold`,
   * exactly. Output: `(idA, idB, jaccard)` with idA < idB. The shingle set
   * feeds ranking AND verification, so it is cached for the call, which
   * returns pinned pairs and holds no cache.
   */
  def jaccardJoinPrefix(
      df: DataFrame, id: Column, text: Column,
      shingleSize: Int = 3, threshold: Double = 0.8): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    UnpersistHandle.pinned { handle =>
      val shingled = UnpersistHandle.persist(
        Dedup.shingles(df, id, text, shingleSize).filter(size(col("shingles")) >= 1), handle)

      val tok = shingled.select(
        col("id"), size(col("shingles")).as("len"),
        explode(col("shingles")).as("t"))
      // global document frequency of every shingle — partial aggregation
      // combines map-side, so the exchange carries one (t, count) per task
      val freq = tok.groupBy(col("t")).agg(count(lit(1)).as("df"))
      // rank each document's shingles rarest-first; keep the prefix
      // |x| - ceil(t·|x|) + 1. The window partitions by id (hash exchange +
      // in-partition sort — document size bounds the sort, never the corpus).
      val prefix = tok.join(freq, "t")
        .withColumn("__r", row_number().over(
          Window.partitionBy(col("id")).orderBy(col("df"), col("t"))))
        .filter(col("__r") <= col("len") - ceil(lit(threshold) * col("len")) + lit(1))
        .select(col("t"), col("id"), col("len"))

      // candidates: prefix-token collisions, pre-pruned by the length bound
      // |y| >= t·|x| (and symmetrically) that J >= t implies
      val cand = prefix.as("a").join(prefix.as("b"),
          col("a.t") === col("b.t") && col("a.id") < col("b.id") &&
            col("b.len").cast("double") >= lit(threshold) * col("a.len").cast("double") &&
            col("a.len").cast("double") >= lit(threshold) * col("b.len").cast("double"))
        .select(col("a.id").as("idA"), col("b.id").as("idB"))
        .distinct()
      Dedup.verifyJaccard(cand, shingled, shingled, threshold)
    }
  }

  /** Keep-first dedup on top of the exact join: drop every document with a
    * verified partner of smaller id. Zero false drops AND zero misses —
    * the lossless variant of [[Dedup.deduplicateMinHash]]. */
  def deduplicateExactJaccard(
      df: DataFrame, id: Column, text: Column,
      shingleSize: Int = 3, threshold: Double = 0.8): DataFrame =
    Dedup.keepFirst(df, id, jaccardJoinPrefix(df, id, text, shingleSize, threshold))
}
