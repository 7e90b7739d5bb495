package graft.text

import graft.agg.PrefixSum
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/**
 * No-split sequence packing — the padding-free batch layout for trainers
 * that must NOT attend across documents: every document lands WHOLE in
 * exactly one fixed-capacity bin (contrast [[Packing.packTokenIds]],
 * which concatenates and cuts the stream so documents straddle
 * boundaries, and the P113 length bucketing, which groups similar
 * lengths but still pads within a batch).
 *
 * The algorithm is histogram bin packing in the SPFHP lineage
 * (shortest-pack-first histogram packing, from the sequence-packing
 * literature on padding-free BERT/LLM pretraining): lengths share one
 * histogram cell, so the solve runs over AT MOST `capacity` rows — on the
 * driver, by construction scale-free (a 100 TB corpus and a 100 MB one
 * produce the same ≤ capacity-row histogram; only the counts differ).
 *
 * Deterministic spec (both the Scala solver and the independent python
 * replication in tools/make_golden.py implement exactly this):
 *  - groups of IDENTICAL bins are processed, never individual bins; a
 *    group's bin ids are one contiguous range (splits take a prefix);
 *  - lengths iterate DESCENDING; for each remaining count c of length L:
 *     1. best fit: among groups with remaining ≥ L, take the SMALLEST
 *        remaining (ties: earliest-created). Fill t = min(c, group size)
 *        bins — the group's FIRST t bin ids — which split off (prefix
 *        range) as a new group with L appended;
 *     2. no fit: open a new group of t = ceil(c / floor(capacity / L))
 *        fresh bins each holding one L (bulk open keeps same-length
 *        documents stacking into shared bins on later iterations);
 *  - documents of length L consume class ranks in `order`; each fill
 *    event maps ranks [r, r+t) to bins [b, b+t) at one slot index — so
 *    assignment is pure integer interval arithmetic.
 *
 * Distributed shape: one narrow token-count pass, the repo's three-phase
 * global row number over (length, order) (class rank = global rank minus
 * the class minimum — no per-class window, the P113 skew discipline), a
 * ≤ capacity-row histogram collect, and one broadcast range join of
 * documents against the event table (events ≤ 2·(lengths + groups) rows).
 * No corpus-sized shuffle beyond the row-number sort.
 *
 * Documents with zero tokens are dropped (nothing to train on — the
 * [[Packing.unpackTokenIds]] convention); a document longer than
 * `capacity` fails loudly (chunk first: `TextFunctions.chunkByTokens`).
 *
 * Output: input columns + `n_tokens`, `bin_id` (dense from 0), `slot`
 * (position within the bin, 0-based, lengths descending within a bin).
 */
object BinPack {

  /** One assignment interval: class ranks [rankStart, rankStart+n) of
    * length `len` map to bins [binStart, binStart+n) at `slot`. */
  private[graft] case class Event(len: Int, rankStart: Long, n: Long,
                                  binStart: Long, slot: Int)

  /** The driver-side histogram solve. Exposed for tests; inputs are
    * (length, count) with 1 <= length <= capacity. Returns (events,
    * nBins). */
  private[graft] def solve(hist: Seq[(Int, Long)],
                           capacity: Int): (Seq[Event], Long) = {
    // a group of n IDENTICAL bins occupying the contiguous id range
    // [binStart, binStart + n): slots = how many lengths each bin holds,
    // rem = capacity - their sum
    final case class Group(var slots: Int, var rem: Int,
                           var binStart: Long, var n: Long)
    val groups = scala.collection.mutable.ArrayBuffer.empty[Group]
    val events = scala.collection.mutable.ArrayBuffer.empty[Event]
    var nextBin = 0L
    for ((len, count) <- hist.sortBy(-_._1)) {
      require(len >= 1 && len <= capacity,
        s"binPack: length $len outside [1, $capacity] — chunk oversized " +
          "documents first (TextFunctions.chunkByTokens)")
      var rank = 0L
      while (rank < count) {
        val c = count - rank
        var best = -1
        var i = 0
        while (i < groups.length) {
          val g = groups(i)
          if (g.rem >= len && (best < 0 || g.rem < groups(best).rem)) best = i
          i += 1
        }
        if (best >= 0) {
          val g = groups(best)
          val t = math.min(c, g.n)
          events += Event(len, rank, t, g.binStart, g.slots)
          if (t == g.n) { g.slots += 1; g.rem -= len }
          else {
            // prefix range splits off as the filled group; the keep
            // group's ids shift up — both stay contiguous
            groups += Group(g.slots + 1, g.rem - len, g.binStart, t)
            g.binStart += t; g.n -= t
          }
          rank += t
        } else {
          val perBin = capacity / len
          val t = math.min(c, (c + perBin - 1) / perBin)
          events += Event(len, rank, t, nextBin, 0)
          groups += Group(1, capacity - len, nextBin, t)
          nextBin += t
          rank += t
        }
      }
    }
    (events.toSeq, nextBin)
  }

  /**
   * Assign every document to a (bin_id, slot) under `capacity`. See the
   * object doc for the exact deterministic spec. `order` must be a total
   * order (it fixes class ranks, hence the assignment).
   */
  def packBins(df: DataFrame, tokensCol: Column, order: Seq[Column],
               capacity: Int): DataFrame = {
    require(capacity > 0, s"capacity must be positive: $capacity")
    // the histogram collect is bounded by the number of distinct lengths
    // <= capacity; cap it so the driver bound is a hard contract (2^22
    // covers 4M-token contexts at ~tens of MB worst case)
    require(capacity <= (1 << 22),
      s"capacity $capacity exceeds 2^22 — the driver-side histogram bound")
    require(order.nonEmpty, "order columns required (they fix the assignment)")
    Seq("n_tokens", "bin_id", "slot").foreach(c =>
      require(!df.columns.contains(c),
        s"input already has a '$c' column — rename it before packBins"))
    val spark = df.sparkSession
    val nCol = "__graft_bp_n"
    val rnCol = "__graft_bp_rn"
    val sized = df.withColumn(nCol, tokensCol.cast("int"))
      .filter(col(nCol) > 0) // zero-token docs: nothing to place
    // the running count over a total order is its row number
    val ranked = PrefixSum.withRunningTotal(sized, lit(1L), col(nCol) +: order, rnCol,
      exclusive = false)
    // class rank = global rank - the class's min rank (classes are
    // contiguous under the (length, order) sort); both sides of the
    // join after this are broadcast-sized
    val minRanks = ranked.groupBy(col(nCol))
      .agg(min(col(rnCol)).as("__minRn"))
    val hist = minRanks.join(
      ranked.groupBy(col(nCol)).count(), Seq(nCol))
      .collect().map(r => (r.getInt(0), r.getLong(2), r.getLong(1)))
    val (events, _) = solve(hist.map(h => (h._1, h._2)).toSeq, capacity)
    val minRankOf = hist.map(h => h._1 -> h._3).toMap
    // absolute row-number interval: class ranks are 0-based offsets
    // from the class's own min row number, so the base (1-based or
    // otherwise) cancels
    val eventRows = events.map(e =>
      (e.len, e.rankStart + minRankOf(e.len), e.n, e.binStart, e.slot))
    import spark.implicits._
    val eventDf = eventRows.toDF(nCol, "__rankStart", "__n", "__binStart", "__slot")
    ranked.join(broadcast(eventDf),
        ranked(nCol) === eventDf(nCol) &&
          col(rnCol) >= col("__rankStart") &&
          col(rnCol) < col("__rankStart") + col("__n"))
      .select((df.columns.map(col) :+
        ranked(nCol).as("n_tokens") :+
        (col("__binStart") + (col(rnCol) - col("__rankStart"))).as("bin_id") :+
        col("__slot").as("slot")): _*)
  }

  /**
   * Materialize the binned sequences themselves — the no-split trainer
   * artifact: `(bin_id, ids, doc_starts, n_pad)` where `ids` is the
   * concatenation of the bin's documents in slot order (each document
   * WHOLE, no separators — `doc_starts` is the block-diagonal attention
   * metadata, the [[Packing.docBoundaries]] shape), and `n_pad` is the
   * padding the trainer must add to reach `capacity`. Token counts are
   * taken from the id arrays themselves, so assignment and payload can
   * never disagree; zero-token documents drop ([[packBins]] contract).
   *
   * Scale shape: [[packBins]]' shape plus one hash aggregation on
   * `bin_id` (bounded: a bin's documents sum to ≤ capacity ids). The
   * per-bin `doc_starts` prefix sum runs as nested array algebra —
   * O(docs-per-bin²) integer adds per bin, bounded by capacity, narrow.
   *
   * Compositions: `idsCol` is any int stream, so the FUSED mask stream
   * ([[Packing.packTokenIdsWithMask]]'s `id*2 + mask` encoding) yields
   * mask-aligned no-split SFT bins — split the streams back with the
   * same two transforms. Persist with the generic export discipline
   * (`write.parquet` + [[graft.write.Manifest.writeManifestFor]]);
   * [[graft.text.Shards]] is deliberately NOT reused here — its
   * verifier certifies exactly-capacity dense packs, which bins are not.
   */
  def packBinSequences(df: DataFrame, idsCol: Column, order: Seq[Column],
                       capacity: Int): DataFrame = {
    val withIds = df.select(
      (coalesce(idsCol, array().cast("array<int>")).as("__bp_ids") +:
        order.zipWithIndex.map { case (c, i) => c.as(s"__bo$i") }): _*)
    val assigned = packBins(withIds, size(col("__bp_ids")),
      order.indices.map(i => col(s"__bo$i")), capacity)
    binSequencesFromAssigned(assigned, col("__bp_ids"), capacity)
  }

  /** The bin-assembly half of [[packBinSequences]], for callers that
    * already hold a [[packBins]] assignment carrying the id arrays —
    * computing both the assignment AND the sequences then costs ONE
    * histogram solve instead of two (the bin_pack_roundtrip shape). */
  def binSequencesFromAssigned(assigned: DataFrame, idsCol: Column,
                               capacity: Int): DataFrame =
    assigned.groupBy(col("bin_id"))
      .agg(array_sort(collect_list(struct(col("slot"), idsCol.as("__bp_ids"))))
        .as("__sorted"))
      .select(col("bin_id"),
        flatten(transform(col("__sorted"), x => x.getField("__bp_ids")))
          .as("ids"),
        transform(sequence(lit(0), size(col("__sorted")) - 1),
          i => aggregate(
            slice(transform(col("__sorted"),
              x => size(x.getField("__bp_ids"))), lit(1), i),
            lit(0), (a, b) => a + b)).as("doc_starts"))
      .select(col("bin_id"), col("ids"), col("doc_starts"),
        (lit(capacity) - size(col("ids"))).as("n_pad"))

  /** One-row exact-integer layout report for a [[packBins]] assignment:
    * bins used, documents placed, tokens placed, slot capacity
    * (`n_bins * capacity`) and the `ceil(total/capacity)` lower bound —
    * fill efficiency and optimality gap are one downstream division. */
  def binPackReport(assigned: DataFrame, capacity: Int): DataFrame =
    assigned.agg(
        countDistinct(col("bin_id")).as("n_bins"),
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("total_tokens"),
        (countDistinct(col("bin_id")) * capacity).as("slot_capacity"))
      // exact integer ceil-div (double quotients misfloor at 100 TB totals)
      .withColumn("min_bins",
        expr(s"(total_tokens + ${capacity - 1}) DIV ${capacity}L"))
}
