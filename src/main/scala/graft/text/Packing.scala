package graft.text

import graft.agg.PrefixSum
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/**
 * Sequence packing for training-data prep: assign every document a position
 * in a stream of fixed-capacity token sequences.
 *
 * Training pipelines concatenate the tokenized corpus in a deterministic
 * order and cut it into `capacity`-token sequences; what they need per
 * document is WHERE it lands: `seq_id` (which sequence its first token
 * falls in) and `seq_offset` (token offset within that sequence). Both are
 * pure functions of the exclusive running token total, so the heavy lifting
 * is [[graft.agg.PrefixSum]]'s three-phase global prefix sum — no
 * single-partition window, no driver loop, reproducible at any parallelism.
 * Documents crossing a sequence boundary spill into the following sequence
 * (the downstream chunker's concern; `chunkByTokens` covers the in-doc
 * split).
 */
object Packing {

  /**
   * Add `seq_id` / `seq_offset` for a pack of `capacity` tokens per
   * sequence, streaming documents in the (total) order `order`. `tokensCol`
   * is the per-document token count — e.g.
   * `TextFunctions.tokenStatsAscii(text)(0)` or a stored count column.
   */
  def packSequences(
      df: DataFrame,
      tokensCol: Column,
      order: Seq[Column],
      capacity: Long): DataFrame = {
    require(capacity > 0, s"capacity must be positive: $capacity")
    val cum = "__graft_cum_tokens"
    PrefixSum.withRunningTotal(df, tokensCol, order, cum)
      .withColumn("seq_id", floor(col(cum) / capacity).cast("long"))
      .withColumn("seq_offset", (col(cum) % capacity).cast("long"))
      .drop(cum)
  }

  /**
   * Materialize the training shards themselves — the FINAL artifact of the
   * whole pipeline: concatenate every document's token-ID stream (each
   * followed by one `sepId` — the `<|endoftext|>` discipline) in the total
   * order `order` and cut the stream into `capacity`-id rows. Output:
   * `(seq_id, ids: array<int>, n_docs)` where every sequence holds exactly
   * `capacity` ids except the last (trainers usually drop or pad it) and
   * `n_docs` counts the documents TOUCHING the sequence.
   *
   * `order` is the caller's lever over WHAT shares a context window:
   * `(doc_id)` gives corpus order; `(cluster_id, doc_id)` with the P12d
   * k-means (or P19 near-dup) assignment places RELATED documents
   * adjacent, so cut sequences carry semantically coherent context (the
   * in-context-pretraining ordering); `(split, doc_id)` keeps held-out
   * shards contiguous. Positions are a pure function of the order, so
   * each choice is reproducible at any parallelism.
   *
   * Scale shape — rows stay O(docs + sequences), never one row per token:
   *  1. [[graft.agg.PrefixSum.withRunningTotal]] assigns each document its
   *     exclusive absolute start (the only full-data exchange is that
   *     plan's range sort);
   *  2. each document explodes into only the sequences it TOUCHES
   *     (`ceil(n/capacity)+1` spans at most) carrying an array SLICE — the
   *     payload is O(total tokens) bytes either way, but the row count is
   *     documents + boundary crossings;
   *  3. one hash aggregation on `seq_id` re-assembles pieces in offset
   *     order (bounded: a sequence's pieces sum to `capacity` ids).
   * Sequence arithmetic is exact integer DIV — a double quotient misfloors
   * within half an ulp of a boundary once absolute positions pass ~2^44,
   * which a 100 TB token stream actually reaches.
   */
  def packTokenIds(
      df: DataFrame,
      idsCol: Column,
      order: Seq[Column],
      capacity: Int,
      sepId: Int,
      startOffset: Long = 0L): DataFrame = {
    require(capacity > 0, s"capacity must be positive: $capacity")
    require(sepId >= 0, s"sepId must be >= 0: $sepId")
    require(startOffset >= 0, s"startOffset must be >= 0: $startOffset")
    val prep = df.select(
      (concat(coalesce(idsCol, array().cast("array<int>")),
        array(lit(sepId))).as("__ids") +:
        order.zipWithIndex.map { case (c, i) => c.as(s"__o$i") }): _*)
      .withColumn("__n", size(col("__ids")).cast("long"))
    // startOffset shifts every absolute position: the incremental-append
    // hook (graft.text.Shards.appendShards) — packing batch B at offset
    // total_ids(A) yields exactly the one-shot pack of A ++ B restricted
    // to B's pieces, because positions are a pure function of the global
    // running total
    val started = PrefixSum.withRunningTotal(prep, col("__n"),
      order.indices.map(i => col(s"__o$i")), "__start")
      .withColumn("__start", col("__start") + lit(startOffset))
    started
      .select(col("__ids"), col("__start"), col("__n"),
        explode(sequence(
          expr(s"__start DIV ${capacity}L"),
          expr(s"(__start + __n - 1) DIV ${capacity}L"))).as("seq_id"))
      .select(col("seq_id"), col("__ids"), col("__start"),
        greatest(col("seq_id") * capacity, col("__start")).as("__absFrom"),
        least((col("seq_id") + 1) * capacity, col("__start") + col("__n"))
          .as("__absUntil"))
      .select(col("seq_id"),
        (col("__absFrom") - col("seq_id") * capacity).as("__offset"),
        slice(col("__ids"), (col("__absFrom") - col("__start") + 1).cast("int"),
          (col("__absUntil") - col("__absFrom")).cast("int")).as("__piece"))
      .groupBy(col("seq_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        flatten(transform(
          array_sort(collect_list(struct(col("__offset"), col("__piece")))),
          x => x.getField("__piece"))).as("ids"))
      .select(col("seq_id"), col("ids"), col("n_docs"))
  }

  /**
   * Per-sequence token provenance — "what is shard k made of": for every
   * (sequence, source) pair, how many of the sequence's ids come from
   * documents of that source (each document's separator charges to its
   * own source). This is the mixture accounting a trainer needs per
   * shard — domain shares, contamination audits, curriculum checks —
   * WITHOUT materializing any ids: the same exclusive-prefix-sum +
   * touched-sequence span arithmetic as [[packTokenIds]] (exact integer
   * DIV), but the explode carries only counts, so rows stay
   * O(docs + boundary crossings) and the result is one map-side-combined
   * aggregation, O(sequences × sources) rows out.
   *
   * `tokensCol` is the per-document TOKEN count (the separator is added
   * here, mirroring the pack); run it with the same `order`, `capacity`
   * and `startOffset` as the pack it describes and the seq_ids line up
   * by construction.
   */
  def tokenProvenance(
      df: DataFrame,
      tokensCol: Column,
      order: Seq[Column],
      capacity: Int,
      source: Column,
      startOffset: Long = 0L): DataFrame = {
    require(capacity > 0, s"capacity must be positive: $capacity")
    require(startOffset >= 0, s"startOffset must be >= 0: $startOffset")
    val prep = df.select(
      (source.as("source") +: (tokensCol + 1).cast("long").as("__n") +:
        order.zipWithIndex.map { case (c, i) => c.as(s"__o$i") }): _*)
    val started = PrefixSum.withRunningTotal(prep, col("__n"),
      order.indices.map(i => col(s"__o$i")), "__start")
      .withColumn("__start", col("__start") + lit(startOffset))
    started
      .select(col("source"), col("__start"), col("__n"),
        explode(sequence(
          expr(s"__start DIV ${capacity}L"),
          expr(s"(__start + __n - 1) DIV ${capacity}L"))).as("seq_id"))
      .select(col("seq_id"), col("source"),
        (least((col("seq_id") + 1) * capacity, col("__start") + col("__n")) -
          greatest(col("seq_id") * capacity, col("__start"))).as("__cnt"))
      .groupBy(col("seq_id"), col("source"))
      .agg(sum(col("__cnt")).as("n_ids"))
  }

  /**
   * [[packTokenIds]] with an ALIGNED per-token loss mask — the SFT-shard
   * shape: `(seq_id, ids, mask, n_docs)` where `mask[i]` is the
   * trainability bit for `ids[i]` ([[Chat.sftLossMask]] upstream), and
   * alignment is guaranteed BY CONSTRUCTION, not by parallel plumbing:
   * each (id, mask) pair travels as ONE fused int `id * 2 + mask` through
   * the standard pack (the separator fuses to `sepId * 2` — mask 0, a
   * packing artifact is never trainable), then one narrow transform
   * splits the streams back. Any drift between ids and mask is therefore
   * structurally impossible; same rows-O(docs+sequences) scale shape as
   * the plain pack. Requires ids in [0, 2^30) (any real vocab) and
   * normalizes mask to 0/1 via `!= 0`.
   *
   * Persisting: the fused stream IS a plain token stream, so the full
   * artifact lifecycle comes for free — `Shards.saveShards(df,
   * zip_with(ids, mask, (i, m) => i*2 + (m =!= 0).cast("int")), order,
   * capacity, sepId * 2, dir)` lands it (bundle no tokenizer: the
   * fused ids exceed the base vocab, so verifyShards' ids_ok bound does
   * not apply), append/verify/range-read work unchanged, and loading
   * back through the two splitting transforms reproduces this
   * function's output exactly (pinned in ShardsSuite).
   */
  def packTokenIdsWithMask(
      df: DataFrame,
      idsCol: Column,
      maskCol: Column,
      order: Seq[Column],
      capacity: Int,
      sepId: Int,
      startOffset: Long = 0L): DataFrame = {
    require(sepId >= 0 && sepId < (1 << 30),
      s"sepId must be in [0, 2^30): $sepId")
    val fused = zip_with(idsCol, maskCol,
      (i, m) => i * 2 + (m =!= 0).cast("int"))
    packTokenIds(df, fused, order, capacity, sepId * 2, startOffset)
      .select(col("seq_id"),
        transform(col("ids"), v => shiftright(v, 1)).as("ids"),
        transform(col("ids"), v => v.bitwiseAND(1)).as("mask"),
        col("n_docs"))
  }

  /** Inverse of [[packTokenIdsWithMask]] for shard QA: re-fuse the two
    * streams, run the standard [[unpackTokenIds]] split, and un-fuse —
    * output `(doc_idx, ids, mask)` with the same budget guard. */
  def unpackTokenIdsWithMask(
      packed: DataFrame,
      capacity: Int,
      sepId: Int,
      maxSequences: Long = 1L << 22): DataFrame = {
    val fused = packed.select(col("seq_id"),
      zip_with(col("ids"), col("mask"),
        (i, m) => i * 2 + (m =!= 0).cast("int")).as("ids"))
    unpackTokenIds(fused, capacity, sepId * 2, maxSequences)
      .select(col("doc_idx"),
        transform(col("ids"), v => shiftright(v, 1)).as("ids"),
        transform(col("ids"), v => v.bitwiseAND(1)).as("mask"))
  }

  /**
   * Per-sequence document-boundary metadata for a pack — the varlen-
   * attention side table (flash-attention `cu_seqlens` lineage): for each
   * sequence, the sorted offsets where a DOCUMENT BEGINS inside it, so a
   * trainer can reset position ids / build block-diagonal attention masks
   * without scanning the ids for separators at step time. An empty
   * document's "first token" is its bare separator; a sequence entirely
   * inside one long document has no boundary (`doc_starts` empty).
   *
   * Derived from the packed ids themselves, so it works on shards loaded
   * back from disk ([[graft.text.Shards.loadShards]]) with no extra state:
   * a document begins at `p > 0` iff `ids[p-1]` is the separator (and p is
   * not past the end — the stream's final separator opens nothing), and at
   * `p = 0` iff the PREVIOUS sequence ends with the separator (one
   * narrow self-equi-join on `seq_id - 1`; sequence 0 always starts
   * document 0). Everything else is per-row Column algebra — O(capacity)
   * work per sequence, no explode, no corpus-sized shuffle. Assumes a
   * complete pack (dense seq_ids from 0, position 0 = a document start),
   * which [[packTokenIds]] and the shard artifact guarantee.
   */
  def docBoundaries(packed: DataFrame, sepId: Int): DataFrame = {
    val prevEnd = packed.select((col("seq_id") + 1).as("seq_id"),
      // get() is 0-based and null-safe on empty arrays (a corrupt pack
      // should fail verify, not crash the metadata scan)
      (get(col("ids"), size(col("ids")) - 1) === lit(sepId)).as("__prevEnds"))
    packed.join(prevEnd, Seq("seq_id"), "left_outer")
      .select(col("seq_id"),
        concat(
          when(col("seq_id") === 0 || coalesce(col("__prevEnds"), lit(false)),
            array(lit(0))).otherwise(array().cast("array<int>")),
          filter(
            transform(col("ids"),
              (id, i) => when(id === lit(sepId), i + 1).otherwise(lit(-1))),
            p => p > 0 && p < size(col("ids"))))
          .as("doc_starts"))
  }

  /**
   * Inverse of [[packTokenIds]] for shard QA: re-split the packed stream
   * on `sepId` back into per-document id arrays. Output: `(doc_idx, ids)`
   * — `doc_idx` is the document's 0-based position in the pack order;
   * a document with an EMPTY id stream is absent (nothing to emit).
   *
   * Scale shape — rows stay O(docs + sequences), mirroring the pack
   * itself: a sequence's ids split on `sepId` into at most
   * `n_docs_touching + 1` contiguous SEGMENTS, so the explode emits one
   * row per non-empty segment carrying an array SLICE (the payload is
   * O(total tokens) bytes either way, but never one row per token). The
   * segment's document index is pure arithmetic — the sequence's global
   * separator census (one O(sequences) prefix sum, no explode, computed
   * and pinned when this is called) plus the segment's ordinal — which
   * eliminates the per-token window and the per-token join the first
   * implementation paid. The final per-document aggregation reassembles
   * slices in global-position order (bounded by document length). The call
   * leaves no cache behind. `maxSequences` still bounds the QA: packed
   * `seq_id`s are dense from 0, so any row with `seq_id >= maxSequences`
   * proves the pack exceeds the budget — the guard is an in-plan
   * `assert_true` that fails the census job on the first violation, so
   * the call itself throws (the P112 `maxTouchedFiles` discipline).
   * Default 2^22 sequences ≈ 2^31 tokens at capacity 512; raise it
   * deliberately, or QA a slice ([[unpackTokenIdsRange]]).
   */
  def unpackTokenIds(
      packed: DataFrame,
      capacity: Int,
      sepId: Int,
      maxSequences: Long = 1L << 22): DataFrame = {
    require(capacity > 0, s"capacity must be positive: $capacity")
    require(maxSequences > 0, s"maxSequences must be positive: $maxSequences")
    val guarded = packed.filter(assert_true(col("seq_id") < maxSequences,
      concat(lit("unpackTokenIds: seq_id "), col("seq_id").cast("string"),
        lit(s" >= maxSequences=$maxSequences — per-token QA over a pack " +
          "this large is a deliberate act; raise maxSequences or QA a " +
          "slice"))).isNull)
    val offsets = separatorCensus(separatorsPerSequence(guarded, sepId))
    segmentsToDocs(guarded.join(offsets, "seq_id"), capacity, sepId)
      .groupBy(col("__docIdx").as("doc_idx"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("__gpos"), col("__piece")))),
        x => x.getField("__piece"))).as("ids"))
      .select(col("doc_idx"), col("ids"))
  }

  /** `(seq_id, __nsep)`: the number of separators in each sequence. */
  private def separatorsPerSequence(packed: DataFrame, sepId: Int): DataFrame =
    packed.select(col("seq_id"),
      size(filter(col("ids"), i => i === sepId)).cast("long").as("__nsep"))

  /** The unpack family's global separator census: `(seq_id,
    * __sepsBefore)`, the separators in all earlier sequences, from
    * [[separatorsPerSequence]] rows, one row per sequence. */
  private def separatorCensus(perSeq: DataFrame): DataFrame =
    PrefixSum.withRunningTotal(perSeq, col("__nsep"), Seq(col("seq_id")), "__sepsBefore")
      .select(col("seq_id"), col("__sepsBefore"))

  /** Shared segment explode of the unpack family: from `(seq_id, ids,
    * __sepsBefore)` rows, emit one row per NON-EMPTY separator-delimited
    * segment — `(__docIdx, __gpos, __piece)` where `__docIdx` is the
    * absolute document ordinal (census + segment ordinal), `__gpos` the
    * segment's absolute start position (unique, so slices reassemble in
    * order), `__piece` the id slice. Pure per-row array algebra — no
    * per-token rows, no window. */
  private def segmentsToDocs(withCensus: DataFrame, capacity: Int,
                             sepId: Int): DataFrame = {
    val sepPos = filter(
      transform(col("ids"), (x, i) => when(x === sepId, i).otherwise(lit(-1))),
      p => p >= 0)
    val segs = withCensus
      .withColumn("__sepPos", sepPos)
      .select(col("seq_id"), col("ids"), col("__sepsBefore"),
        explode(sequence(lit(0), size(col("__sepPos")))).as("__j"),
        col("__sepPos"))
      .select(col("__sepsBefore"), col("seq_id"), col("ids"), col("__j"),
        when(col("__j") === 0, lit(0))
          .otherwise(element_at(col("__sepPos"), col("__j")) + 1).as("__from"),
        when(col("__j") < size(col("__sepPos")),
            element_at(col("__sepPos"), col("__j") + 1))
          .otherwise(size(col("ids"))).as("__until"))
    segs
      .filter(col("__until") > col("__from"))
      .select(
        (col("__sepsBefore") + col("__j")).as("__docIdx"),
        (col("seq_id") * capacity + col("__from")).as("__gpos"),
        slice(col("ids"), col("__from") + 1, col("__until") - col("__from"))
          .as("__piece"))
  }

  /**
   * Range-restricted [[unpackTokenIds]] — the sampled-QA mode for packs
   * where full per-token unpacking is out of budget: re-split ONLY the
   * sequences `[fromSeq, untilSeq)` and emit exactly the documents that
   * are COMPLETE inside the range (first id at or after the range start,
   * separator before the range end), with their ABSOLUTE `doc_idx` — so
   * a QA pass can decode any slice of a 100 TB pack and byte-compare it
   * against the corresponding corpus rows, never touching the rest.
   *
   * Exactness at the edges costs two cheap lookups, both O(sequences) or
   * O(1), never per-token outside the range:
   *  - the separator census + global prefix sum still run over ALL
   *    sequences (one narrow `size(filter(...))` per row — no explode),
   *    so `doc_idx` is absolute;
   *  - whether the range STARTS on a document boundary is read off the
   *    last id of sequence `fromSeq - 1` (one row): if it is the
   *    separator, the in-progress-doc at the boundary actually starts
   *    fresh and is kept; otherwise that first document straddles in and
   *    is dropped. Documents straddling out are dropped by the
   *    right-edge census bound (their separator lies beyond the range).
   */
  def unpackTokenIdsRange(
      packed: DataFrame,
      capacity: Int,
      sepId: Int,
      fromSeq: Long,
      untilSeq: Long): DataFrame = {
    require(capacity > 0, s"capacity must be positive: $capacity")
    require(fromSeq >= 0 && fromSeq < untilSeq,
      s"bad sequence range: [$fromSeq, $untilSeq)")
    val perSeq = separatorsPerSequence(packed, sepId)
    val offsets = separatorCensus(perSeq)
    // left-edge alignment + census bounds: three driver-sized scalars
    val bounds = perSeq.agg(
      coalesce(sum(when(col("seq_id") < fromSeq, col("__nsep"))), lit(0L)),
      coalesce(sum(when(col("seq_id") < untilSeq, col("__nsep"))), lit(0L)))
      .head()
    val sepsBeforeFrom = bounds.getLong(0)
    val sepsBeforeUntil = bounds.getLong(1)
    val aligned = fromSeq == 0 || {
      // `get` (0-based, null out-of-bounds) instead of element_at(-1):
      // ANSI mode errors on out-of-bounds, and a defensive null beats a
      // crash if a corrupt pack carries an empty sequence
      val prev = packed.filter(col("seq_id") === fromSeq - 1)
        .select(get(col("ids"), size(col("ids")) - 1).as("__last")).collect()
      require(prev.length == 1,
        s"sequence ${fromSeq - 1} not found (dense seq_ids expected)")
      !prev.head.isNullAt(0) && prev.head.getInt(0) == sepId
    }
    val minDocIdx = if (aligned) sepsBeforeFrom else sepsBeforeFrom + 1
    // same per-SEGMENT explode as unpackTokenIds (one row per non-empty
    // separator-delimited slice, never per token), restricted to the range
    segmentsToDocs(
      packed.filter(col("seq_id") >= fromSeq && col("seq_id") < untilSeq)
        .join(offsets, "seq_id"),
      capacity, sepId)
      // complete docs only: started inside the range (left edge exact via
      // the alignment peek), separator inside the range (right edge via
      // the census bound)
      .filter(col("__docIdx") >= minDocIdx &&
        col("__docIdx") < sepsBeforeUntil)
      .groupBy(col("__docIdx").as("doc_idx"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("__gpos"), col("__piece")))),
        x => x.getField("__piece"))).as("ids"))
      .select(col("doc_idx"), col("ids"))
  }
}
