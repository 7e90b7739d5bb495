package graft.sample

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/**
 * Deterministic, engine-portable sampling for corpus curation.
 *
 * `df.sample()` is seeded per-partition: the kept set changes whenever the
 * partitioning changes (file split, repartition, scale-up), which makes
 * pipeline runs unreproducible. Hash sampling decides per ROW from a stable
 * key — the same document is kept at sf0.01 on a laptop and at 100 TB on a
 * thousand executors, across engines.
 *
 * Mechanism: a row is kept iff the first 8 hex chars of
 * `md5(salt || key)` sort below the rate's threshold. Lowercase fixed-width
 * hex compares lexicographically in numeric order (digits sort before
 * 'a'-'f' in ASCII), so the comparison is an exact uniform [0, 1) test with
 * 2^32 granularity — and it is plain string SQL, bit-identical in any engine
 * with md5 (the DuckDB oracle runs the same predicate verbatim).
 *
 * Scale shape: a narrow per-row filter — no shuffle, no state, pushed next
 * to the scan; changing `salt` draws an independent sample.
 */
object Sampling {

  /** Hex threshold such that P[substr(md5,1,8) < threshold] == rate
    * (2^-32 granularity). "g" sorts above every hex string: keep-all. */
  private[graft] def thresholdHex(rate: Double): String = {
    require(rate >= 0.0 && rate <= 1.0, s"rate must be in [0, 1]: $rate")
    val t = math.round(rate * 4294967296.0) // 2^32
    if (t >= 4294967296L) "g" else f"$t%08x"
  }

  /** The keep predicate for one rate (usable inside any expression). */
  def hashSamplePredicate(key: Column, rate: Double, salt: String = "graft"): Column =
    substring(md5(concat(lit(salt), key.cast("string"))), 1, 8) < lit(thresholdHex(rate))

  /** Keep a deterministic `rate` fraction of rows, decided by `key` alone. */
  def hashSample(df: DataFrame, key: Column, rate: Double, salt: String = "graft"): DataFrame =
    df.filter(hashSamplePredicate(key, rate, salt))

  /**
   * Deterministic dataset splitting: label every row with one of `weights`'
   * split names, chosen by the same md5-threshold hash as [[hashSample]].
   * The same document lands in the same split at any scale, under any
   * partitioning, in any engine — which is what makes held-out sets
   * trustworthy across pipeline re-runs. Weights must sum to 1 (±1e-9);
   * the last split absorbs hash values past the final threshold so rounding
   * can never leave a row unlabeled.
   */
  def splitByHash(
      df: DataFrame, key: Column, weights: Seq[(String, Double)],
      salt: String = "graft", outputColumn: String = "split"): DataFrame = {
    require(weights.nonEmpty, "splitByHash needs at least one split")
    weights.foreach { case (n, w) =>
      require(w > 0.0 && w <= 1.0, s"split '$n' weight must be in (0, 1]: $w") }
    require(math.abs(weights.map(_._2).sum - 1.0) < 1e-9,
      s"split weights must sum to 1: ${weights.map(_._2).sum}")
    val h = substring(md5(concat(lit(salt), key.cast("string"))), 1, 8)
    val cumulative = weights.init.scanLeft(0.0)(_ + _._2).tail // thresholds before the last
    val labeled = weights.init.zip(cumulative).foldLeft(Option.empty[Column]) {
      case (acc, ((name, _), cum)) =>
        val cond = h < lit(thresholdHex(cum))
        Some(acc.fold(when(cond, lit(name)))(_.when(cond, lit(name))))
    }
    val expr = labeled.fold(lit(weights.last._1))(_.otherwise(lit(weights.last._1)))
    df.withColumn(outputColumn, expr)
  }

  /**
   * PURGED temporal split — the time-series leakage guard ([[splitByHash]]
   * splits by identity, [[graft.dedup]] leakage-safe splits by near-dup
   * cluster; this splits by TIME, the axis that leaks through
   * autocorrelation): rows label by event-time cutoffs, and every row
   * inside `embargoUs` AFTER a cutoff is labeled `embargo` — dropped from
   * training AND evaluation, so a model scored on the eval segment never
   * saw rows temporally adjacent to its training horizon (the purged /
   * embargoed walk-forward split of financial ML).
   *
   * Semantics, fully specified over integer micros: with ascending bounds
   * `b1 < b2 < …` and names `n0, n1, …` (one more name than bounds),
   * `ts < b1 → n0`; `b_i <= ts < b_i + embargo → "embargo"`;
   * `b_i + embargo <= ts < b_{i+1} → n_i`; past the last bound the last
   * name (after its embargo). Bounds must be strictly ascending with gaps
   * wider than the embargo — a swallowed segment is a configuration
   * error, not a degenerate split. Pure per-row Column algebra: no
   * shuffle, streaming-legal, identical CASE logic on any engine.
   */
  def withTemporalSplit(df: DataFrame, tsUs: Column, bounds: Seq[Long],
                        names: Seq[String], embargoUs: Long = 0L,
                        outputColumn: String = "split"): DataFrame = {
    require(bounds.nonEmpty, "withTemporalSplit needs at least one bound")
    require(names.size == bounds.size + 1,
      s"need ${bounds.size + 1} names for ${bounds.size} bounds, got ${names.size}")
    require(embargoUs >= 0, s"embargoUs must be >= 0: $embargoUs")
    require(!names.contains("embargo"), "'embargo' is the reserved gap label")
    bounds.sliding(2).foreach {
      case Seq(a, b) => require(b > a + embargoUs,
        s"bound $b is not past $a + embargo $embargoUs — the segment between them is empty")
      case _ =>
    }
    val t = tsUs.cast("long")
    var e: Column = when(t < bounds.head, names.head)
    bounds.zipWithIndex.foreach { case (b, i) =>
      if (embargoUs > 0) e = e.when(t < b + embargoUs, "embargo")
      if (i + 1 < bounds.size) e = e.when(t < bounds(i + 1), names(i + 1))
    }
    df.withColumn(outputColumn, e.otherwise(names.last))
  }

  /**
   * Deterministic WEIGHTED sampling: keep probability `min(1, rate * w)`
   * per row — importance sampling by a quality/length weight, reproducible
   * like [[hashSample]] (the decision is a pure function of the key).
   *
   * The per-row threshold is `floor(min(1, rate*w) * 2^32)` rendered as
   * 8-digit lowercase hex (`format_string("%08x", ...)` — same digits from
   * DuckDB's `printf`), compared lexicographically against the md5 prefix:
   * fixed-width hex compares in numeric order, and every step (IEEE double
   * multiply, floor, hex render) is bit-identical across engines, so the
   * kept set is too. Still a narrow filter — no shuffle, no state.
   */
  def weightedHashSample(
      df: DataFrame, key: Column, weight: Column, rate: Double,
      salt: String = "graft"): DataFrame = {
    require(rate >= 0.0, s"rate must be non-negative: $rate")
    val p = least(lit(1.0), greatest(lit(0.0), weight.cast("double") * lit(rate)))
    val threshold = format_string("%08x", floor(p * lit(4294967296.0)).cast("long"))
    df.filter(
      substring(md5(concat(lit(salt), key.cast("string"))), 1, 8) < threshold ||
        p >= lit(1.0)) // p == 1 keeps every row ("ffffffff" < "100000000" fails as strings)
  }

  /**
   * Deterministic EXACT-SIZE sample: the `k` rows of each group whose
   * `md5(salt || key)` sorts lowest (ties broken by the key itself, so the
   * order is total). Rate-based sampling cannot promise a fixed budget —
   * a 1% draw of a skewed source is 10× another's — but eval/holdout sets
   * want exactly k docs per source. Hashing gives a uniform draw that is
   * reproducible across runs, partitionings, and engines.
   *
   * Scale shape: declared as a rank-filter so Catalyst plans
   * `WindowGroupLimit` (map-side partial top-k before the shuffle — see
   * [[graft.agg.TopK.topKPerGroup]], which this delegates to): a group with
   * a billion rows sends ~k rows per map task into the exchange, never the
   * group. Output adds `rankColumn` (1..k in hash order).
   */
  def sampleKPerGroup(
      df: DataFrame, groupCols: Seq[Column], key: Column, k: Int,
      salt: String = "graft", rankColumn: String = "sample_rank"): DataFrame = {
    val h = md5(concat(lit(salt), key.cast("string")))
    graft.agg.TopK.topKPerGroup(df, groupCols, Seq(h.asc, key.asc), k, rankColumn)
  }

  /**
   * Weighted sampling WITHOUT replacement, exact size k — the
   * Efraimidis–Spirakis A-ES scheme ("Weighted random sampling with a
   * reservoir", IPL 2006) made deterministic: each row draws the hash
   * uniform `u = (int(md5[0:8]) + 0.5) / 2^32` from its key and scores
   * `ln(u) / w`; the k largest scores ARE a weighted draw without
   * replacement (row probability proportional to `w` at the margin).
   * [[weightedHashSample]] keeps an EXPECTED fraction per row; this keeps
   * an exact budget — the data-mixing primitive for "exactly k docs,
   * importance-weighted" eval sets and mixture recipes.
   *
   * Determinism: the uniform is the same md5 family as every sampler here
   * (reproducible across runs, partitionings, engines); ties (near-equal
   * scores) break by the key. Rows with `w <= 0` or null never qualify
   * (their limit score is -inf), matching the A-ES domain.
   *
   * Scale shape: a narrow projection + global top-k, which Catalyst plans
   * as `TakeOrderedAndProject` — each task keeps its local k, only
   * |tasks| * k rows reach the driver-side merge; no full sort, no wide
   * exchange of the corpus.
   */
  def weightedSampleTopK(
      df: DataFrame, key: Column, weight: Column, k: Int,
      salt: String = "graft"): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val u = (conv(substring(md5(concat(lit(salt), key.cast("string"))), 1, 8),
      16, 10).cast("double") + 0.5) / 4294967296.0
    val w = weight.cast("double")
    df.filter(w > 0.0)
      .withColumn("__es_key", log(u) / w)
      .orderBy(col("__es_key").desc, key.asc)
      .limit(k)
      .drop("__es_key")
  }

  /**
   * Token-budget resampling (domain mixing): down-sample each stratum so its
   * expected token mass lands on `budget` tokens — the "mix sources to a
   * target recipe" step every training-data pipeline runs before packing.
   * A stratum already under budget is kept whole (rate capped at 1).
   *
   * The per-stratum rate is `min(1, budget / total_weight)` computed in IEEE
   * double arithmetic from EXACT integer sums, and the keep decision is the
   * same md5-threshold predicate as [[weightedHashSample]] (floor to 2^32
   * lanes, fixed-width hex render, string compare) — every step is
   * bit-identical across engines, so the kept set is reproducible anywhere.
   *
   * Scale shape: one map-side-combined aggregate over `(stratum, long)`
   * rows builds the totals table (|strata| rows), which broadcast-joins
   * back onto the corpus; the keep decision is then a narrow filter. No
   * wide shuffle of the corpus itself.
   */
  def tokenBudgetSample(
      df: DataFrame, strata: Column, key: Column, weight: Column, budget: Long,
      salt: String = "graft"): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    val sCol = "__graft_tbs_stratum"
    val tCol = "__graft_tbs_total"
    val totals = df.groupBy(strata.as(sCol))
      .agg(sum(weight.cast("long")).as(tCol))
    val joined = df.join(broadcast(totals), strata <=> col(sCol), "left")
    val rate = least(lit(1.0), lit(budget).cast("double") / col(tCol).cast("double"))
    val threshold = format_string("%08x", floor(rate * lit(4294967296.0)).cast("long"))
    joined.filter(
      substring(md5(concat(lit(salt), key.cast("string"))), 1, 8) < threshold ||
        rate >= lit(1.0)) // whole-stratum keep: "ffffffff" < "100000000" fails as strings
      .drop(sCol, tCol)
  }

  /**
   * Deterministic GLOBAL shuffle: every row gets a contiguous position
   * 1..N in `md5(salt || key)` order (ties broken by the key, so the order
   * is total) — the "shuffle the corpus before sharding" step a training
   * pipeline runs last, made reproducible: the same corpus yields the same
   * order on any partitioning, at any scale, in any engine with md5.
   *
   * With `numShards > 0` a `shardColumn` is added: `(pos - 1) % numShards`,
   * a round-robin assignment that is exactly balanced (shard sizes differ by
   * at most one) and keeps each shard itself in hash order. To write shards,
   * `repartition(numShards, col(shardColumn))` then sort within partitions
   * by position — no further shuffle is needed.
   *
   * Scale shape: one range exchange (the sort) plus the 3-phase position
   * assignment of [[graft.agg.PrefixSum.withRunningTotal]] (a running
   * count, which over a total order is the row number) — the offsets side
   * is #partitions rows, always broadcastable; no global single-partition
   * window anywhere. The call leaves no cache behind.
   */
  def shuffleByHash(
      df: DataFrame, key: Column, salt: String = "graft",
      positionColumn: String = "shuffle_pos",
      numShards: Int = 0, shardColumn: String = "shard"): DataFrame = {
    require(numShards >= 0, s"numShards must be non-negative: $numShards")
    val h = md5(concat(lit(salt), key.cast("string")))
    val positioned = graft.agg.PrefixSum.withRunningTotal(
      df, lit(1L), Seq(h.asc, key.asc), positionColumn, exclusive = false)
    if (numShards > 0)
      positioned.withColumn(shardColumn, (col(positionColumn) - 1) % numShards)
    else positioned
  }

  /**
   * Deterministic EPOCH shuffle — the reproducible training-order
   * permutation: the same `(seed, epoch)` yields the same global order on
   * every run, cluster size, and engine (resuming a crashed training job
   * mid-epoch depends on it), while different epochs yield independent
   * permutations. This is [[shuffleByHash]] with the salt fixed to the
   * `"seed:epoch:"` convention — one range exchange + the 3-phase position
   * assignment, no `rand()` (non-deterministic under task retries — a
   * recomputed partition would re-draw and corrupt the permutation).
   */
  def epochShuffle(df: DataFrame, id: Column, seed: Long, epoch: Long,
                   positionColumn: String = "shuffle_pos"): DataFrame =
    shuffleByHash(df, id, salt = s"$seed:$epoch:", positionColumn = positionColumn)

  /**
   * Deterministic weighted interleave — the data-mixture SCHEDULE: one
   * global training order in which every prefix contains each source in
   * proportion to its weight (within one item per source — the weighted
   * fair queuing bound), with each source internally shuffled by the
   * seeded epoch hash. Where [[mixtureResample]]/[[temperatureSample]]
   * change WHAT is kept, this orders everything that was kept — the
   * "interleave datasets by weight" step of a training data loader, made
   * reproducible and engine-replayable.
   *
   * Mechanics (all exact integer arithmetic): per-source rank `r` from the
   * seeded md5 order (one hash exchange + per-source window), virtual time
   * `v = (2r − 1) · (C / w_s)` with `C = lcm(weights)` — the classic WFQ
   * finish-tag, scaled by 2C so it stays integral — then the global
   * position by `(v, source, r)` through the 3-phase row-number plan.
   * Rows whose source has no weight fail fast (a silent drop or a default
   * weight would corrupt the mixture).
   *
   * Long-range: `v ≤ 2·N_s·C/w_s`; with ANSI on (Spark 4 default) an
   * overflow throws rather than mis-ordering. lcm(weights) is validated
   * against Long range at plan time.
   */
  def mixtureInterleave(df: DataFrame, id: Column, source: Column,
                        weights: Map[String, Long], seed: Long, epoch: Long,
                        posColumn: String = "mix_pos"): DataFrame = {
    require(weights.nonEmpty, "weights must be non-empty")
    weights.foreach { case (s, w) => require(w > 0, s"weight for '$s' must be positive: $w") }
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    val lcm = weights.values.foldLeft(1L) { (acc, w) =>
      val g = gcd(acc, w)
      val r = acc / g * w
      require(r > 0 && r / (acc / g) == w, s"lcm(weights) overflows Long")
      r
    }
    val key = md5(concat(lit(s"$seed:$epoch:"), id.cast("string")))
    val perSource = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__mix_src")).orderBy(col("__mix_key"), id)
    // source -> C / w_s, unknown sources raise (never silently mis-weighted)
    val kCol = weights.foldLeft(
      raise_error(concat(lit("mixtureInterleave: no weight for source "),
        col("__mix_src"))).cast("long")) {
      case (acc, (s, w)) => when(col("__mix_src") === s, lit(lcm / w)).otherwise(acc)
    }
    val ranked = df
      .withColumn("__mix_src", source.cast("string"))
      .withColumn("__mix_key", key)
      .withColumn("__mix_r", row_number().over(perSource).cast("long"))
      .withColumn("__mix_v", (lit(2L) * col("__mix_r") - 1L) * kCol)
    graft.agg.PrefixSum.withRunningTotal(ranked, lit(1L),
      Seq(col("__mix_v").asc, col("__mix_src").asc, col("__mix_r").asc), posColumn,
      exclusive = false)
      .drop("__mix_src", "__mix_key", "__mix_r", "__mix_v")
  }

  /**
   * Epoch-sharded variant for consumers that do NOT need one global order:
   * each row gets a deterministic `(shard, pos-in-shard)` for the epoch —
   * `numShards` independent streams (one per data-loader worker), each
   * internally shuffled by the seeded hash. ONE hash-partition exchange +
   * local sort (the per-shard window), no global range exchange, no
   * row-numbers phase, no checkpoint: strictly cheaper than [[epochShuffle]]
   * and the shape to prefer at 100 TB when shards are consumed in
   * parallel anyway.
   *
   * Shard assignment = the top 60 bits of the same md5 key mod
   * `numShards` (hash-balanced, not exactly balanced like the round-robin
   * of [[shuffleByHash]] — balancing would require the global order this
   * variant exists to avoid). Every step — md5, hex-prefix to integer,
   * mod, per-shard rank — replays bit-for-bit in any engine.
   */
  def epochShards(df: DataFrame, id: Column, seed: Long, epoch: Long,
                  numShards: Int,
                  shardColumn: String = "shard",
                  posColumn: String = "shard_pos"): DataFrame = {
    require(numShards > 0, s"numShards must be positive: $numShards")
    require(!df.columns.contains(shardColumn) && !df.columns.contains(posColumn),
      s"output columns '$shardColumn'/'$posColumn' collide with input columns")
    val keyCol = "__epoch_shard_key"
    require(!df.columns.contains(keyCol), s"input must not contain $keyCol")
    val key = md5(concat(lit(s"$seed:$epoch:"), id.cast("string")))
    // 15 hex chars = 60 bits: fits a long exactly in both Spark (conv) and
    // DuckDB (CAST('0x...' AS BIGINT)) — the cross-engine replay pair
    val shard = pmod(conv(substring(col(keyCol), 1, 15), 16, 10).cast("long"),
      lit(numShards.toLong)).cast("int")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(shardColumn)).orderBy(col(keyCol), id)
    df.withColumn(keyCol, key)
      .withColumn(shardColumn, shard)
      .withColumn(posColumn, row_number().over(w).cast("long"))
      .drop(keyCol)
  }

  /**
   * Per-stratum sampling rates (e.g. up-sample a high-quality source,
   * down-sample a boilerplate-heavy one) with `defaultRate` for strata not
   * listed. The per-row threshold is a chained CASE on the stratum value —
   * still a narrow filter, no shuffle, no join.
   */
  def stratifiedHashSample(
      df: DataFrame, strata: Column, key: Column,
      rates: Map[String, Double], defaultRate: Double,
      salt: String = "graft"): DataFrame = {
    rates.values.foreach(r => require(r >= 0.0 && r <= 1.0, s"rate must be in [0, 1]: $r"))
    val threshold = rates.foldLeft(lit(thresholdHex(defaultRate))) {
      case (acc, (value, rate)) => when(strata === value, lit(thresholdHex(rate))).otherwise(acc)
    }
    df.filter(substring(md5(concat(lit(salt), key.cast("string"))), 1, 8) < threshold)
  }

  /**
   * Resample a multi-domain corpus to TARGET mixture proportions — the
   * data-mixing recipe step ("40% web, 30% code, ...") executed as one
   * deterministic down-sampling pass. [[stratifiedHashSample]] takes rates
   * the caller already knows; this derives them from the data: given target
   * shares per domain (must sum to 1), it finds the LARGEST output for
   * which every domain's required rate stays ≤ 1 (the scarcest domain
   * relative to its target is kept whole — no domain can be up-sampled by
   * a filter), then keeps each domain's deterministic md5-hash fraction.
   * Domains without a target share are dropped (they are not in the
   * recipe); a target domain absent from the data contributes nothing and
   * the mixture renormalizes over the present ones.
   *
   * Every derived quantity (count → rate → 8-hex threshold) is a fixed
   * IEEE expression the DuckDB oracle replays bit-for-bit, so the kept SET
   * — not just its size — is reproducible across runs, partitionings, and
   * engines, like every sampler here.
   *
   * Scale shape: one map-side-combined count per domain (|domains| rows),
   * a driver-free chain of tiny broadcasts to attach each row's rate, and
   * the same narrow md5 filter as [[hashSample]]. The corpus itself is
   * scanned once and never shuffled.
   */
  /**
   * Temperature-based source balancing — the standard multilingual /
   * multi-source mix trick: sample domain d at rate
   * `(count_min / count_d)^(1-alpha)`, the largest no-upsampling mixture
   * whose realized shares follow `count^alpha`. `alpha = 1` keeps natural
   * proportions (every rate 1), `alpha = 0` flattens to equal counts per
   * domain, `alpha = 0.5` (the common default) square-roots the imbalance:
   * a 100× bigger domain ends up only 10× bigger.
   *
   * Exactness: the rate arithmetic is chosen to be bit-identical across
   * engines — an IEEE division and, at alpha 0.5/0/1, an IEEE sqrt or
   * nothing (sqrt is exactly rounded by spec; `pow` is only
   * within-1-ulp, so other alphas are documented as approximate and the
   * oracle gate pins 0.5). Keep decisions are the same md5-threshold
   * predicate as [[hashSample]]: deterministic per key, engine-portable.
   *
   * Scale shape: one map-side-combining count per domain (tiny), a
   * broadcast scalar min, a broadcast rates join, then a narrow filter —
   * the corpus itself never shuffles.
   */
  def temperatureSample(
      df: DataFrame, domain: Column, key: Column,
      alpha: Double = 0.5, salt: String = "graft"): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha must be in [0, 1]: $alpha")
    val p = graft.functions.distinctPrefixFor(df.columns.toSeq)
    val dcol = p + "domain"
    val ccol = p + "c"
    val mcol = p + "mn"
    val rcol = p + "rate"
    val hcol = p + "threshold"
    val tagged = df.withColumn(dcol, domain.cast("string"))
    val counts = tagged.groupBy(col(dcol)).agg(count(lit(1)).cast("double").as(ccol))
    val mn = counts.agg(min(col(ccol)).as(mcol))
    val ratio = col(mcol) / col(ccol)
    val rate =
      if (alpha == 1.0) lit(1.0)
      else if (alpha == 0.5) sqrt(ratio)
      else if (alpha == 0.0) ratio
      else pow(ratio, lit(1.0 - alpha)) // within 1 ulp, not oracle-pinned
    val rates = counts.crossJoin(broadcast(mn))
      .withColumn(rcol, rate)
      .withColumn(hcol,
        format_string("%08x", floor(col(rcol) * lit(4294967296.0)).cast("long")))
      .select(col(dcol), col(rcol), col(hcol))
    tagged.join(broadcast(rates), dcol)
      .filter(
        substring(md5(concat(lit(salt), key.cast("string"))), 1, 8) < col(hcol) ||
          col(rcol) >= lit(1.0)) // rate == 1: "ffffffff" < "100000000" fails as strings
      .drop(dcol, rcol, hcol)
  }

  def resampleToMixture(
      df: DataFrame, domain: Column, targets: Map[String, Double],
      key: Column, salt: String = "graft"): DataFrame = {
    require(targets.nonEmpty, "resampleToMixture needs at least one target domain")
    targets.foreach { case (d, s) =>
      require(s > 0.0, s"target share must be positive: $d -> $s") }
    require(math.abs(targets.values.sum - 1.0) < 1e-9,
      s"target shares must sum to 1: ${targets.values.sum}")
    val p = graft.functions.distinctPrefixFor(df.columns.toSeq)
    val dcol = p + "domain"
    val scol = p + "share"
    val ccol = p + "c"
    val tcol = p + "t"
    val rcol = p + "rate"
    val hcol = p + "threshold"
    val spark = df.sparkSession
    val shares = spark.createDataFrame(
      targets.toSeq.sortBy(_._1).map { case (d, s) => (d, s) })
      .toDF(dcol, scol)
    val tagged = df.withColumn(dcol, domain.cast("string"))
    val counts = tagged.groupBy(col(dcol))
      .agg(count(lit(1)).cast("double").as(ccol))
      .join(broadcast(shares), dcol) // inner: un-targeted domains drop here
    // largest mixture total with every rate <= 1: T = min(count / share)
    val t = counts.agg(min(col(ccol) / col(scol)).as(tcol))
    val rates = counts.crossJoin(broadcast(t))
      .withColumn(rcol, least(lit(1.0), col(scol) * col(tcol) / col(ccol)))
      .withColumn(hcol,
        format_string("%08x", floor(col(rcol) * lit(4294967296.0)).cast("long")))
      .select(col(dcol), col(rcol), col(hcol))
    tagged.join(broadcast(rates), dcol)
      .filter(
        substring(md5(concat(lit(salt), key.cast("string"))), 1, 8) < col(hcol) ||
          col(rcol) >= lit(1.0)) // rate == 1: "ffffffff" < "100000000" fails as strings
      .drop(dcol, rcol, hcol)
  }

  /**
   * Epoch-aware repetition to a token budget — the step [[resampleToMixture]]
   * cannot take: a filter can only DOWN-sample, but real LLM data recipes
   * repeat scarce high-quality domains for several epochs to hit their
   * target share of the training budget (data-constrained scaling:
   * Muennighoff et al. 2023 measure useful repetition up to ~4 epochs).
   * Per domain d with token mass `T_d = sum(nTokens)` and target
   * `share_d * budget` tokens:
   *
   *   epochs_d = min(maxEpochs, floor(share_d * budget / T_d))   full passes
   *   rem_d    = (share_d * budget - epochs_d * T_d) / T_d        (0 if clamped)
   *
   * Every row is emitted `epochs_d` times (an added `epoch` column numbers
   * the copies 1..epochs_d), plus one more copy in epoch `epochs_d + 1` for
   * rows winning the md5-threshold draw at rate `rem_d` — so the expected
   * emitted token mass per domain is exactly its target (capped at
   * `(maxEpochs) * T_d`), and a domain whose natural mass exceeds its
   * target degrades to the fractional-epoch DOWN-sample (epochs 0).
   *
   * Determinism: `T_d` is an exact long sum; target/epochs/rem are fixed
   * IEEE double expressions (exact as long as `epochs_d * T_d` stays under
   * 2^53 — 9 PB of tokens); the draw is the same md5-threshold predicate as
   * [[hashSample]]. Any engine replaying counts -> floor -> printf
   * threshold -> md5 reproduces the emitted multiset bit-for-bit.
   *
   * Scale shape: one map-side-combining token sum per domain (tiny), a
   * broadcast rates join, then a NARROW sequence-explode whose fan-out is
   * bounded by `maxEpochs + 1` — the corpus never shuffles and is scanned
   * once. Domains not in `shares` are dropped (they have no budget).
   */
  def repeatToTokenBudget(
      df: DataFrame, domain: Column, nTokens: Column, key: Column,
      shares: Map[String, Double], budget: Long,
      maxEpochs: Int = 4, salt: String = "graft"): DataFrame = {
    require(shares.nonEmpty, "repeatToTokenBudget needs at least one domain share")
    shares.foreach { case (d, s) =>
      require(s > 0.0, s"domain share must be positive: $d -> $s") }
    require(math.abs(shares.values.sum - 1.0) < 1e-9,
      s"domain shares must sum to 1: ${shares.values.sum}")
    require(budget > 0, s"budget must be positive: $budget")
    require(maxEpochs >= 1, s"maxEpochs must be >= 1: $maxEpochs")
    require(!df.columns.contains("epoch"),
      "repeatToTokenBudget adds an `epoch` column; input already has one")
    val p = graft.functions.distinctPrefixFor(df.columns.toSeq)
    val dcol = p + "domain"
    val scol = p + "share"
    val tcol = p + "t"
    val ecol = p + "epochs"
    val rcol = p + "rem"
    val hcol = p + "threshold"
    val ncol = p + "ncopies"
    val spark = df.sparkSession
    val shareDf = spark.createDataFrame(
      shares.toSeq.sortBy(_._1).map { case (d, s) => (d, s) })
      .toDF(dcol, scol)
    val tagged = df.withColumn(dcol, domain.cast("string"))
    val masses = tagged.groupBy(col(dcol))
      .agg(sum(nTokens.cast("long")).cast("double").as(tcol))
      .filter(col(tcol) > 0.0)
      .join(broadcast(shareDf), dcol) // inner: un-budgeted domains drop here
    val target = col(scol) * lit(budget.toDouble)
    val rates = masses
      .withColumn(ecol,
        least(lit(maxEpochs.toDouble), floor(target / col(tcol))).cast("int"))
      .withColumn(rcol,
        when(col(ecol) >= maxEpochs, lit(0.0))
          .otherwise((target - col(ecol).cast("double") * col(tcol)) / col(tcol)))
      .withColumn(hcol,
        format_string("%08x", floor(col(rcol) * lit(4294967296.0)).cast("long")))
      .select(col(dcol), col(ecol), col(rcol), col(hcol))
    tagged.join(broadcast(rates), dcol)
      .withColumn(ncol, col(ecol) +
        when(substring(md5(concat(lit(salt), key.cast("string"))), 1, 8) < col(hcol),
          lit(1)).otherwise(lit(0)))
      .filter(col(ncol) >= 1)
      .withColumn("epoch", explode(sequence(lit(1), col(ncol))))
      .drop(dcol, ecol, rcol, hcol, ncol)
  }

  /**
   * Padding-efficient batch assembly — the inference/training-throughput
   * twin of [[graft.agg.PrefixSum]]'s sequence packing (packing
   * CONCATENATES short sequences to a budget; this GROUPS similar-length
   * sequences so per-batch padding is bounded): every sequence lands in
   * the power-of-two bucket `padded_to = 2^ceil(log2(n_tokens))`, is
   * deterministically shuffled WITHIN its bucket by the seeded md5 of its
   * id (decorrelates batches from ingest order; same seed ⇒ same batches
   * on any run/cluster/engine — no rand(), so task retries cannot corrupt
   * an assembled batch), and takes `(batch_id, pos_in_batch)` by position.
   * Padding waste per row is `padded_to - n_tokens` < 50% by construction.
   *
   * The bucket boundary is computed in INTEGER arithmetic (the bit length
   * of `n_tokens - 1`, never a float log2 whose exact-power behavior is
   * platform-lore), so every engine buckets identically.
   *
   * Scale shape: bucket counts are tiny (~log2 max-length), so a
   * per-bucket window would funnel the corpus through ~20 tasks. Instead
   * the global order (bucket, h, id) goes through the 3-phase row-number
   * plan (one range exchange, no single-partition window) and the
   * per-bucket rank is recovered by subtracting each bucket's minimum
   * global number — a #buckets-row aggregate broadcast back.
   *
   * Output: input id column as `id`, `n_tokens`, `bucket`, `padded_to`,
   * `batch_id` (per bucket, 0-based), `pos_in_batch` (0-based; the final
   * batch of a bucket may be partial).
   */
  def lengthBucketBatches(df: DataFrame, id: Column, nTokens: Column,
                          batchSize: Int, seed: Long = 0L): DataFrame = {
    require(batchSize >= 1, s"batchSize must be >= 1: $batchSize")
    val base = df.select(id.as("id"),
        coalesce(nTokens.cast("long"), lit(0L)).as("n_tokens"))
      .withColumn("bucket",
        when(col("n_tokens") <= 1, 0)
          .otherwise(length(bin(col("n_tokens") - 1))).cast("int"))
      .withColumn("padded_to", expr("shiftleft(CAST(1 AS BIGINT), bucket)"))
      .withColumn("__h", md5(concat(lit(s"$seed:"), col("id").cast("string"))))
    val numbered = graft.agg.PrefixSum.withRunningTotal(base, lit(1L),
      Seq(col("bucket").asc, col("__h").asc, col("id").asc), "__rn", exclusive = false)
    val bucketBase = numbered.groupBy(col("bucket"))
      .agg(min(col("__rn")).as("__rn0"))
    numbered
      .join(broadcast(bucketBase), Seq("bucket"))
      .withColumn("__rank", col("__rn") - col("__rn0"))
      .select(col("id"), col("n_tokens"), col("bucket"), col("padded_to"),
        expr(s"__rank div $batchSize").as("batch_id"),
        (col("__rank") % batchSize).as("pos_in_batch"))
  }
}
