"""LLM-data-pipeline operators for PySpark, bridging to the graft JVM kernels.

Column functions (tokenize_ascii, token_stats, top_ngram_stats, chunk_tokens,
lang_id, quality_score, fingerprint_md5, hashed_word_shingles,
cosine_similarity, dot_product) return codegen'd Catalyst expressions — the
same single-pass kernels the Scala API uses; no Python UDFs, no serialization.

DataFrame operators (chunk_by_tokens, drop_exact_text_duplicates,
near_dup_pairs_minhash, deduplicate_minhash, brute_force_top_k) delegate to
graft.text.TextFunctions / graft.dedup.Dedup / graft.ann.Ann.
"""

from typing import Dict, List, Optional, Sequence

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.functions import col

# graftspark resolves _to_java_column across pyspark versions (classic vs sql)
from graftspark import ColumnOrName, _bridge, _to_java_column, _to_java_columns

__all__ = [
    "tokenize_ascii", "token_stats", "top_ngram_stats", "top_ngram_fraction",
    "chunk_tokens", "chunk_by_tokens", "lang_id", "quality_score",
    "approx_bpe_token_count", "fingerprint_md5", "hashed_word_shingles",
    "readability_stats", "flesch_score",
    "cosine_similarity", "dot_product", "drop_exact_text_duplicates",
    "int8_encode", "int8_encode_ints", "int8_scale", "int8_dot",
    "int8_decode", "int8_brute_force_top_k",
    "bit_sign_pack", "hamming_words", "hamming_brute_force_top_k", "hamming_top_k",
    "mrl_top_k", "truncate_vec",
    "near_dup_pairs_minhash", "near_dup_pairs_simhash", "deduplicate_minhash",
    "deduplicate_lines", "decontaminate", "brute_force_top_k",
    "build_blocklist_artifact", "decontaminate_with_artifact",
    "curate", "curate_increment", "register_sql_functions",
    "connected_components", "assign_clusters", "deduplicate_by_clusters",
    "keep_best_by_clusters", "split_by_clusters", "soft_dedup_weights",
    "deduplicate_minhash_clusters", "hash_sample", "stratified_hash_sample",
    "epoch_shuffle", "epoch_shards", "dehyphenate", "mixture_interleave",
    "redact_pii", "redact_emails", "redact_ipv4", "redact_long_digits", "strip_html",
    "fold_accents", "script_profile", "matched_patterns", "mask_patterns",
    "asof_join", "range_join", "with_session_index", "session_bounds",
    "split_by_hash", "temperature_sample", "gopher_filter",
    "top_k_per_group", "frequent_items", "profile_columns", "key_skew_report",
    "hll_sketches", "merge_hll_sketches", "quality_checks",
    "distinct_count_gate", "deflate_length", "lm_score_bits",
    "with_running_total", "pack_sequences", "zorder_by",
    "edit_distance1_pairs", "weighted_hash_sample",
    "extract_media_features", "extract_audio_features", "sample_frames",
    "drop_exact_payload_duplicates", "cdc_chunks", "chunk_dedup_report",
    "payload_near_dup_pairs", "novelty_profile", "duplicate_gram_mass",
    "top_fraction_per_group", "approx_top_fraction_per_group", "save_dedup_index",
    "near_dup_pairs_against_index", "deduplicate_against_index",
    "append_to_dedup_index",
    "train_pq", "pq_encode", "pq_top_k", "bm25_top_k",
    "repeated_span_stats", "remove_repeated_spans", "classifier_score",
    "dsir_weight_table", "dsir_fit_weights", "dsir_score", "dsir_select_top",
    "vocab_top_tokens", "vocab_coverage_report", "vocab_self_coverage_report",
    "train_ivf", "ivf_assign", "embedding_outliers", "semantic_dup_pairs", "deduplicate_semantic",
    "save_ivf", "load_ivf", "save_pq", "load_pq",
    "rrf_fuse", "canonicalize_text", "fix_mojibake", "corpus_drift", "contamination_report",
    "deduplicate_semantic_keep_diverse", "compact_parquet",
    "ivf_pq_top_k", "train_pq_residual", "pq_encode_residual",
    "save_ann_index", "ivf_pq_top_k_indexed", "append_to_ann_index",
    "repeat_to_token_budget",
    "decode_numeric_entities", "decode_html_entities",
    "write_ordered_batches", "read_ordered_batches", "drain_to_parquet",
    "drop_duplicate_texts_within_watermark", "containment_candidates_stream",
    "jaccard_join_prefix", "deduplicate_exact_jaccard",
    "corpus_bucket_first", "near_dup_candidates_seeded_stream",
    "cap_per_domain_stream",
    "bpe_train", "bpe_encode", "bpe_token_count", "save_bpe", "load_bpe",
    "byte_bpe_train", "byte_bpe_encode", "byte_bpe_token_count",
    "save_byte_bpe", "load_byte_bpe",
    "chat_truncate_to_budget_byte_bpe",
    "chat_truncate_messages_to_budget_byte_bpe",
    "wordpiece_train", "wordpiece_encode", "wordpiece_token_count",
    "save_wordpiece", "load_wordpiece",
    "canonicalize_url", "url_host", "registrable_domain",
    "extract_urls", "with_link_stats",
    "dedup_by_canonical_url", "domain_stats", "weighted_sample_top_k",
    "cap_per_domain", "remove_boilerplate_lines",
    "kmv_sketch", "kmv_overlap_estimate", "kmv_distinct_estimate",
    "join_size_estimate",
    "merge_kmv_sketches", "winnowed_shingles", "containment_pairs",
    "resample_to_mixture",
    "band_collision_probability", "band_threshold", "plan_bands",
    "train_rotation", "rotate_vec", "train_pq_rotated", "pq_top_k_rotated",
    "save_rotation", "load_rotation",
    "hilbert_order_by", "cms_sketch", "cms_estimate",
    "write_bloom_index", "bloom_pruning_report", "bloom_pruned_parquet",
    "write_with_manifest", "verify_manifest", "verify_manifest_summary",
    "mine_hard_negatives",
    "domain_edges", "link_rank",
    "write_partitioned_with_manifest", "partition_manifest_summary",
    "snapshot_changed_partitions", "diff_snapshots",
    "jsonl_read_validated", "jsonl_parse_lines", "jsonl_good",
    "jsonl_quarantine", "csv_read_validated", "csv_parse_lines",
    "streaming_top_keys_per_window", "curriculum_order", "schema_diff_dirs",
    "split_sentences", "chunk_by_sentences",
    "k_anonymity_report", "l_diversity_report", "suppress_rare_rows",
    "rare_rows", "streaming_token_counts_by_window",
    "total_variation_by_window", "train_unigram", "unigram_encode",
    "unigram_token_count", "save_unigram", "load_unigram",
    "warc_records", "read_warc",

    "history_from_snapshots", "history_snapshot_at", "mine_aligned_pairs", "aligned_pairs_from_neighbors", "scrub_parquet_by_id", "scrub_dedup_index", "scrub_ann_index", "compact_in_place", "compact_ann_index", "compact_dedup_index", "with_lateness", "watermark_plan", "streaming_lateness_by_window", "length_bucket_batches", "overlap_matrix", "explain_near_dup_pairs",

    "redact_valid_cards", "valid_card_count", "soundex4", "jaro_winkler_fp",
    "link_records", "foreign_key_check", "chat_parse_turns", "chat_stats",
    "chat_explode_turns", "chat_truncate_to_budget",
    "chat_parse_messages", "chat_stats_messages", "chat_explode_messages",
    "chat_truncate_messages_to_budget",
    "chat_rebuild_transcript", "chat_rebuild_messages",
    "tokenizer_fertility",
    "funnel_times", "funnel_report", "funnel_step_times", "funnel_lags",
    "retention_cohorts", "transition_matrix",
    "retention_cohorts_approx", "transition_matrix_excluded",
    "streaming_funnel_progress", "streaming_retention_hits",
    "byte_bpe_decode", "bpe_decode", "wordpiece_decode", "unigram_decode",
    "byte_bpe_encode_ids", "byte_bpe_decode_ids", "byte_bpe_vocab_size",
    "save_byte_bpe_vocab", "pack_token_ids", "unpack_token_ids",
    "unpack_token_ids_range",
    "byte_bpe_encode_ids_special", "byte_bpe_decode_ids_special",
    "chat_render_template", "chat_render_messages_template",
    "chat_template", "chat_template_chatml", "template_specials_of",
    "chat_render_template_spec", "chat_render_messages_template_spec",
    "tokenizer", "save_tokenizer", "load_tokenizer",
    "save_tokenizer_with_fertility", "load_tokenizer_fertility",
    "tokenizer_encode_ids", "tokenizer_decode_ids", "tokenizer_token_count",
    "tokenizer_vocab_size", "tokenizer_specials",
    "save_shards", "load_shards", "verify_shards", "unpack_shards",
    "append_shards", "ShardSet", "doc_boundaries", "sft_loss_mask",
    "shard_batch", "shards_last_batch_id", "pack_bins", "bin_pack_report",
    "pack_token_ids_with_mask", "unpack_token_ids_with_mask",
    "unpack_shards_range", "fim_transform", "fim_applied", "fim_specials",
    "token_provenance", "top_paths", "pack_bin_sequences",
    "k_center_select",
    "chat_template_specials",
    "conversation_neardup_pairs", "conversation_neardup_pairs_messages",
    "history_apply_snapshot", "with_temporal_split", "layout_report",
]

# English stopwords used by the Scala token_stats default (kept in sync with
# graft.text.TextFunctions.EnglishStopwords).
ENGLISH_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as",
]


def _jcol(c: ColumnOrName):
    return _to_java_column(c if isinstance(c, Column) else col(c))


def _col_fn(name: str, *args) -> Column:
    sc = SparkContext._active_spark_context
    return Column(getattr(_bridge(sc), name)(*args))


def tokenize_ascii(text: ColumnOrName) -> Column:
    """Lowercased [a-z0-9] tokens, single codegen'd pass -> array<string>."""
    return _col_fn("tokenizeAscii", _jcol(text))


def canonicalize_text(text: ColumnOrName) -> Column:
    """Unicode canonicalization: NFC + control-char strip + whitespace
    collapse + trim, one codegen'd kernel pass. Run before fingerprints or
    shingles so byte-level noise can't split duplicates."""
    return _col_fn("canonicalizeText", _jcol(text))


def token_stats(text: ColumnOrName, stopwords: List[str] = ENGLISH_STOPWORDS) -> Column:
    """array<long> [n_tokens, distinct_tokens, total_token_chars, stopword_count]."""
    return _col_fn("tokenStats", _jcol(text), list(stopwords))


def top_ngram_stats(text: ColumnOrName, n: int) -> Column:
    """array<long> [total n-gram occurrences, count of the most frequent n-gram]."""
    return _col_fn("topNgramStats", _jcol(text), int(n))


def top_ngram_fraction(text: ColumnOrName, n: int) -> Column:
    """Fraction of n-gram occurrences taken by the most frequent n-gram
    (repetition quality signal; 0.0 for docs with fewer than n tokens)."""
    return _col_fn("topNgramFraction", _jcol(text), int(n))


def chunk_tokens(text: ColumnOrName, chunk_size: int, overlap: int = 0) -> Column:
    """Overlapping token-window chunks re-joined by spaces -> array<string>."""
    return _col_fn("chunkTokens", _jcol(text), int(chunk_size), int(overlap))


def lang_id(text: ColumnOrName) -> Column:
    """Marker-word language id ('en'/'fr'/'de'/'es'/'und'), deterministic ties."""
    return _col_fn("langId", _jcol(text))


def quality_score(text: ColumnOrName) -> Column:
    """Heuristic quality score in [0, 1]; higher = more natural-language-like."""
    return _col_fn("qualityScore", _jcol(text))


def approx_bpe_token_count(text: ColumnOrName) -> Column:
    """Approximate BPE token count (pre-tokenizer segment count)."""
    return _col_fn("approxBpeTokenCount", _jcol(text))


def fingerprint_md5(text: ColumnOrName) -> Column:
    """MD5 hex fingerprint of the whitespace/case-normalized text."""
    return _col_fn("fingerprintMd5", _jcol(text))


def readability_stats(text: ColumnOrName) -> Column:
    """One-pass Flesch counters [n_words, n_sentences, n_syllable_groups]
    (ASCII letter runs / punctuation runs / per-word vowel runs floored
    at 1 — exact regex-replayable rules)."""
    return _col_fn("readabilityStats", _jcol(text))


def flesch_score(text: ColumnOrName) -> Column:
    """Flesch reading ease from the one-pass counters: 206.835 -
    1.015*(words/sentences) - 84.6*(syllables/words); 0.0 for wordless
    text. A standard cheap quality signal."""
    return _col_fn("fleschScore", _jcol(text))


def hashed_word_shingles(text: ColumnOrName, n: int) -> Column:
    """Distinct hashed word n-grams (single-pass kernel) -> array<long>."""
    return _col_fn("hashedWordShingles", _jcol(text), int(n))


def int8_encode(vec: ColumnOrName) -> Column:
    """Symmetric per-vector int8 quantization of array<float> -> binary
    codes (1 byte/dim; 4x smaller at rest and on every scan)."""
    return _col_fn("int8Encode", _jcol(vec))


def int8_encode_ints(vec: ColumnOrName) -> Column:
    """int8 codes as array<int> (the Column-algebra / debugging view)."""
    return _col_fn("int8EncodeInts", _jcol(vec))


def int8_scale(vec: ColumnOrName) -> Column:
    """Dequantization scale maxabs/127 for int8_encode's codes."""
    return _col_fn("int8Scale", _jcol(vec))


def int8_dot(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Exact integer dot product of two int8 code columns -> long; cosine
    needs no scales: int8_dot(a,b)/sqrt(int8_dot(a,a)*int8_dot(b,b))."""
    return _col_fn("int8Dot", _jcol(a), _jcol(b))


def int8_decode(codes: ColumnOrName, scale: ColumnOrName) -> Column:
    """Lossy inverse of int8_encode: codes * scale as array<float>."""
    return _col_fn("int8Decode", _jcol(codes), _jcol(scale))


def int8_brute_force_top_k(queries: DataFrame, corpus: DataFrame,
                           query_id: ColumnOrName, query_vec: ColumnOrName,
                           corpus_id: ColumnOrName, corpus_vec: ColumnOrName,
                           k: int) -> DataFrame:
    """Exact-ranking top-k over int8-quantized vectors: the corpus scan
    reads 1 byte per dimension instead of 4; scores are exact integer dot
    products (scales cancel in the cosine)."""
    jdf = _bridge(queries).int8BruteForceTopK(
        queries._jdf, corpus._jdf, _jcol(query_id), _jcol(query_vec),
        _jcol(corpus_id), _jcol(corpus_vec), int(k))
    return DataFrame(jdf, queries.sparkSession)


def bit_sign_pack(vec: ColumnOrName) -> Column:
    """1-bit sign quantization of array<float> into packed 64-bit words
    (1 bit/dim at rest and on every scan: 32x under float32, 8x under
    int8). Bit i of word i//64 = (vec[i] >= 0)."""
    return _col_fn("bitSignPack", _jcol(vec))


def hamming_words(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Hamming distance between two bit_sign_pack codes (XOR + popcount);
    dim - hamming counts sign agreements, a monotone proxy for cosine
    direction."""
    return _col_fn("hammingWords", _jcol(a), _jcol(b))


def hamming_brute_force_top_k(queries: DataFrame, corpus: DataFrame,
                              query_id: ColumnOrName, query_vec: ColumnOrName,
                              corpus_id: ColumnOrName, corpus_vec: ColumnOrName,
                              k: int) -> DataFrame:
    """Brute-force top-k over 1-bit sign codes by ascending Hamming
    distance — the cheapest storage tier of the quantized-ANN family.
    Returns (query_id, rank, neighbor_id, hamming), exact integer
    arithmetic end to end."""
    jdf = _bridge(queries).hammingBruteForceTopK(
        queries._jdf, corpus._jdf, _jcol(query_id), _jcol(query_vec),
        _jcol(corpus_id), _jcol(corpus_vec), int(k))
    return DataFrame(jdf, queries.sparkSession)


def hamming_top_k(queries: DataFrame, corpus: DataFrame,
                  query_id: ColumnOrName, query_vec: ColumnOrName,
                  corpus_id: ColumnOrName, corpus_vec: ColumnOrName,
                  k: int, refine: int = 8) -> DataFrame:
    """Hamming shortlist (k*refine candidates over the 32x-compressed
    scan) + exact cosine re-rank of the bounded shortlist. Returns
    (query_id, rank, neighbor_id, cosine) with cosine exact."""
    jdf = _bridge(queries).hammingTopK(
        queries._jdf, corpus._jdf, _jcol(query_id), _jcol(query_vec),
        _jcol(corpus_id), _jcol(corpus_vec), int(k), int(refine))
    return DataFrame(jdf, queries.sparkSession)


def mrl_top_k(queries: DataFrame, corpus: DataFrame,
              query_id: ColumnOrName, query_vec: ColumnOrName,
              corpus_id: ColumnOrName, corpus_vec: ColumnOrName,
              k: int, dims: int, refine: int = 8) -> DataFrame:
    """Matryoshka two-tier top-k: exact-cosine shortlist over the
    first-`dims` prefix of every vector (dims/dim of the bytes and FLOPs),
    then exact full-vector re-rank of the k*refine shortlist ->
    (query_id, rank, neighbor_id, cosine)."""
    jdf = _bridge(queries).mrlTopK(
        queries._jdf, corpus._jdf, _jcol(query_id), _jcol(query_vec),
        _jcol(corpus_id), _jcol(corpus_vec), int(k), int(dims), int(refine))
    return DataFrame(jdf, queries.sparkSession)


def truncate_vec(vec: ColumnOrName, dims: int) -> Column:
    """First-dims Matryoshka prefix of an embedding column."""
    return _col_fn("truncateVec", _jcol(vec), int(dims))


def cosine_similarity(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Cosine similarity of two array<float> columns -> double."""
    return _col_fn("cosineSimilarity", _jcol(a), _jcol(b))


def dot_product(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Dot product of two array<float> columns -> double."""
    return _col_fn("dotProduct", _jcol(a), _jcol(b))


def chunk_by_tokens(df: DataFrame, text: ColumnOrName,
                    chunk_size: int, overlap: int,
                    *id_cols: ColumnOrName) -> DataFrame:
    """One row per overlapping token-window chunk:
    (id_cols..., chunk_index, chunk_text). Narrow plan — no shuffle."""
    jdf = _bridge(df).chunkByTokens(
        df._jdf, _jcol(text), int(chunk_size), int(overlap),
        _to_java_columns(id_cols))
    return DataFrame(jdf, df.sparkSession)


def drop_exact_text_duplicates(df: DataFrame, id_col: ColumnOrName,
                               text: ColumnOrName) -> DataFrame:
    """Keep the smallest-id row per normalized-text fingerprint."""
    jdf = _bridge(df).dropExactTextDuplicates(df._jdf, _jcol(id_col), _jcol(text))
    return DataFrame(jdf, df.sparkSession)


def near_dup_pairs_minhash(df: DataFrame, id_col: ColumnOrName, text: ColumnOrName,
                           shingle_size: int = 3, bands: int = 16,
                           rows_per_band: int = 8, threshold: float = 0.8) -> DataFrame:
    """MinHash+LSH candidate pairs verified by exact shingle Jaccard:
    (idA, idB, jaccard) with idA < idB and jaccard >= threshold."""
    jdf = _bridge(df).nearDupPairsMinHash(
        df._jdf, _jcol(id_col), _jcol(text),
        int(shingle_size), int(bands), int(rows_per_band), float(threshold))
    return DataFrame(jdf, df.sparkSession)


def jaccard_join_prefix(df: DataFrame, id_col: ColumnOrName, text: ColumnOrName,
                        shingle_size: int = 3, threshold: float = 0.8) -> DataFrame:
    """EXACT similarity self-join via prefix filtering (AllPairs/PPJoin):
    every (idA, idB, jaccard) pair with jaccard >= threshold, guaranteed —
    the lossless complement to near_dup_pairs_minhash. Candidates come from
    rarest-first prefix-token collisions (a theorem, not LSH chance)."""
    jdf = _bridge(df).jaccardJoinPrefix(
        df._jdf, _jcol(id_col), _jcol(text), int(shingle_size), float(threshold))
    return DataFrame(jdf, df.sparkSession)


def deduplicate_exact_jaccard(df: DataFrame, id_col: ColumnOrName,
                              text: ColumnOrName, shingle_size: int = 3,
                              threshold: float = 0.8) -> DataFrame:
    """Keep-first dedup over the exact prefix-filter join: zero false drops
    AND zero misses."""
    jdf = _bridge(df).deduplicateExactJaccard(
        df._jdf, _jcol(id_col), _jcol(text), int(shingle_size), float(threshold))
    return DataFrame(jdf, df.sparkSession)


def near_dup_pairs_simhash(df: DataFrame, id_col: ColumnOrName, text: ColumnOrName,
                           shingle_size: int = 3, bands: int = 8,
                           max_hamming: int = 12, threshold: float = 0.8) -> DataFrame:
    """SimHash bit-band candidate pairs verified by exact shingle Jaccard."""
    jdf = _bridge(df).nearDupPairsSimHash(
        df._jdf, _jcol(id_col), _jcol(text),
        int(shingle_size), int(bands), int(max_hamming), float(threshold))
    return DataFrame(jdf, df.sparkSession)


def deduplicate_lines(df: DataFrame, id_col: ColumnOrName, text: ColumnOrName,
                      separator: str = "\n",
                      output_text_column: str = "text") -> DataFrame:
    """C4-style line dedup: remove every repeated line across the corpus,
    keeping only its first occurrence (smallest (id, position)); documents
    reduced to nothing keep an empty text."""
    jdf = _bridge(df).deduplicateLines(
        df._jdf, _jcol(id_col), _jcol(text), separator, output_text_column)
    return DataFrame(jdf, df.sparkSession)


def decontaminate(corpus: DataFrame, text: ColumnOrName,
                  blocklist: DataFrame, blocklist_text: ColumnOrName,
                  shingle_size: int = 8, min_overlap: int = 1) -> DataFrame:
    """Drop corpus docs sharing >= min_overlap hashed word shingles with any
    blocklist document (benchmark/test-set decontamination). One narrow
    filter: the blocklist's sorted shingle-hash set is broadcast and each row
    probed by a codegen'd binary search, so a streaming corpus works too
    (static blocklist). The decision is per row; a blocklist over 32M
    distinct shingles is refused."""
    jdf = _bridge(corpus).decontaminate(
        corpus._jdf, _jcol(text),
        blocklist._jdf, _jcol(blocklist_text), int(shingle_size), int(min_overlap))
    return DataFrame(jdf, corpus.sparkSession)


def canonicalize_url(url: ColumnOrName) -> Column:
    """Deterministic URL canonicalization (scheme/host lowercase, www. /
    default-port / fragment / tracking-param drop, sorted query) — the step
    before URL-level dedup. Narrow kernel, streaming-legal."""
    return _col_fn("canonicalizeUrl", _jcol(url))


def url_host(url: ColumnOrName) -> Column:
    """Canonical host ('' when unparsable) — per-site group key."""
    return _col_fn("urlHost", _jcol(url))


def registrable_domain(url: ColumnOrName) -> Column:
    """Registrable-domain heuristic (last 2 labels, 3 under known
    multi-part suffixes; IPv4 passes whole) — per-publisher group key."""
    return _col_fn("registrableDomain", _jcol(url))


def extract_urls(text: ColumnOrName) -> Column:
    """All http(s) URLs appearing in free text, in document order (one
    regexp pass; prose-boundary delimiter set)."""
    return _col_fn("extractUrls", _jcol(text))


def with_link_stats(df: DataFrame, text: ColumnOrName) -> DataFrame:
    """Append per-document link-density stats (n_urls, n_distinct_urls,
    url_chars, link_density) — the link-farm/nav-page quality signal;
    narrow single-pass projection."""
    jdf = _bridge(df).withLinkStats(df._jdf, _jcol(text))
    return DataFrame(jdf, df.sparkSession)


def dedup_by_canonical_url(df: DataFrame, id_col: ColumnOrName,
                           url: ColumnOrName) -> DataFrame:
    """Keep one row (smallest id) per canonical URL."""
    jdf = _bridge(df).dedupByCanonicalUrl(df._jdf, _jcol(id_col), _jcol(url))
    return DataFrame(jdf, df.sparkSession)


def domain_stats(df: DataFrame, url: ColumnOrName) -> DataFrame:
    """(domain, n_urls, n_distinct_urls) per registrable domain."""
    jdf = _bridge(df).domainStats(df._jdf, _jcol(url))
    return DataFrame(jdf, df.sparkSession)


def cap_per_domain(df: DataFrame, id_col: ColumnOrName, url: ColumnOrName,
                   max_per_domain: int, salt: str = "graft") -> DataFrame:
    """Cap each registrable domain at k rows via the deterministic md5-ranked
    per-group draw (anti-boilerplate mixture guard; WindowGroupLimit plan)."""
    jdf = _bridge(df).capPerDomain(df._jdf, _jcol(id_col), _jcol(url),
                                   int(max_per_domain), str(salt))
    return DataFrame(jdf, df.sparkSession)


def remove_boilerplate_lines(df: DataFrame, id_col: ColumnOrName,
                             text: ColumnOrName, min_docs: int,
                             separator: str = "\n",
                             output_text_column: str = "text") -> DataFrame:
    """CCNet-style boilerplate filter: drop EVERY occurrence of lines that
    appear in >= min_docs distinct documents (vs deduplicate_lines, which
    keeps the first). Documents reduced to nothing keep an empty text."""
    jdf = _bridge(df).removeBoilerplateLines(
        df._jdf, _jcol(id_col), _jcol(text), int(min_docs), separator,
        output_text_column)
    return DataFrame(jdf, df.sparkSession)


def kmv_sketch(df: DataFrame, value: ColumnOrName, k: int) -> DataFrame:
    """One-row KMV sketch: the k smallest distinct md5 hashes of `value`
    (bounded aggregation — each task ships at most k strings)."""
    jdf = _bridge(df).kmvSketch(df._jdf, _jcol(value), int(k))
    return DataFrame(jdf, df.sparkSession)


def winnowed_shingles(text: ColumnOrName, n: int = 3, w: int = 4) -> Column:
    """MOSS winnowing fingerprint selection: distinct window-min hashes of
    the document's full n-gram hash sequence (~2/(w+1) of positions; any
    shared token run >= w+n-1 long shares a selected print)."""
    return _col_fn("winnowedShingles", _jcol(text), int(n), int(w))


def containment_pairs(df: DataFrame, id_col: ColumnOrName,
                      text: ColumnOrName, shingle_size: int = 3,
                      window: int = 4, threshold: float = 0.5,
                      min_shingles: int = 10,
                      max_print_bucket: int = 64) -> DataFrame:
    """Excerpt/containment detection: (idA, idB, containment) pairs with
    exact shingle-set containment |Sa ∩ Sb| / min(|Sa|, |Sb|) >= threshold,
    candidates from winnowing fingerprints (asymmetric overlap that
    symmetric Jaccard near-dup cannot see)."""
    jdf = _bridge(df).containmentPairs(
        df._jdf, _jcol(id_col), _jcol(text), int(shingle_size), int(window),
        float(threshold), int(min_shingles), int(max_print_bucket))
    return DataFrame(jdf, df.sparkSession)


def merge_kmv_sketches(sketches: DataFrame, sketch: ColumnOrName,
                       k: int) -> DataFrame:
    """Merge persisted KMV sketch rows into one sketch of their union —
    exact (lattice merge), composable across days/shards like HLL."""
    jdf = _bridge(sketches).mergeKmvSketches(sketches._jdf, _jcol(sketch), int(k))
    return DataFrame(jdf, sketches.sparkSession)


def kmv_overlap_estimate(a: DataFrame, a_value: ColumnOrName,
                         b: DataFrame, b_value: ColumnOrName,
                         k: int) -> DataFrame:
    """Corpus-vs-corpus Jaccard estimate WITHOUT a join: one row
    (k_used, n_both, j_estimate) from the two corpora's KMV sketches;
    exact when the union has fewer than k distinct fingerprints."""
    jdf = _bridge(a).kmvOverlapEstimate(a._jdf, _jcol(a_value),
                                        b._jdf, _jcol(b_value), int(k))
    return DataFrame(jdf, a.sparkSession)


def join_size_estimate(a: DataFrame, a_key: ColumnOrName,
                       b: DataFrame, b_key: ColumnOrName,
                       k: int, exact_top_n: int = 64) -> DataFrame:
    """Join-size pre-flight: estimate |a JOIN b| without shuffling the join
    key — exact top-N heavy keys per side (skew never left to sampling
    chance) + a KMV coordinated tail sample. One row (k_used, n_heavy,
    heavy_mass, k_rest, sum_products_rest, d_union, join_estimate); exact
    whenever the key-space union fits in k."""
    jdf = _bridge(a).joinSizeEstimate(a._jdf, _jcol(a_key),
                                      b._jdf, _jcol(b_key),
                                      int(k), int(exact_top_n))
    return DataFrame(jdf, a.sparkSession)


def kmv_distinct_estimate(sketch: ColumnOrName, k: int) -> Column:
    """Distinct-count estimate from a KMV sketch array: exact below k,
    else (k-1)/u_k from the k-th smallest hash."""
    return _col_fn("kmvDistinctEstimate", _jcol(sketch), int(k))


def resample_to_mixture(df: DataFrame, domain: ColumnOrName, targets: dict,
                        key: ColumnOrName, salt: str = "graft") -> DataFrame:
    """Resample a multi-domain corpus to target mixture proportions
    ({domain: share}, shares sum to 1): per-domain rates derived from data
    counts (the scarcest domain relative to its target is kept whole), then
    the deterministic md5-threshold keep. Untargeted domains are dropped."""
    jdf = _bridge(df).resampleToMixture(
        df._jdf, _jcol(domain),
        {str(k2): float(v) for k2, v in targets.items()}, _jcol(key), str(salt))
    return DataFrame(jdf, df.sparkSession)


def weighted_sample_top_k(df: DataFrame, key: ColumnOrName,
                          weight: ColumnOrName, k: int,
                          salt: str = "graft") -> DataFrame:
    """Exact-size weighted draw WITHOUT replacement (Efraimidis-Spirakis
    keys ln(u)/w from the md5 hash uniform) — deterministic across runs,
    partitionings and engines; rows with weight <= 0 never qualify."""
    jdf = _bridge(df).weightedSampleTopK(df._jdf, _jcol(key), _jcol(weight),
                                         int(k), str(salt))
    return DataFrame(jdf, df.sparkSession)


def bpe_train(corpus: DataFrame, text: ColumnOrName, num_merges: int,
              max_words: int = 1 << 20, min_freq: int = 1):
    """Learn a BPE merge list from the corpus's ascii word-frequency table
    (deterministic: pair-count maxima, ties to the smallest pair). The
    corpus-sized work is one map-side-combined word count; merge learning
    runs on the bounded frequency table. Returns an opaque model handle."""
    return _bridge(corpus).bpeTrain(corpus._jdf, _jcol(text),
                                    int(num_merges), int(max_words), int(min_freq))


def bpe_encode(text: ColumnOrName, model) -> Column:
    """The trained-BPE subword stream (array<string>) of the ascii-tokenized
    text — one narrow kernel pass, no shuffle, streaming-legal."""
    return _col_fn("bpeEncode", _jcol(text), model)


def bpe_token_count(text: ColumnOrName, model) -> Column:
    """Subword count per row — the token-budget / packing input."""
    return _col_fn("bpeTokenCount", _jcol(text), model)


def save_bpe(spark: SparkSession, model, path: str) -> None:
    """Persist the merge list as a (rank, left, right) parquet table so
    every run (and the serving side) encodes against the same merges."""
    _bridge(spark.range(1)).saveBpe(spark._jsparkSession, model, str(path))


def load_bpe(spark: SparkSession, path: str):
    """Load a model persisted by save_bpe (opaque model handle)."""
    return _bridge(spark.range(1)).loadBpe(spark._jsparkSession, str(path))


def byte_bpe_train(corpus: DataFrame, text: ColumnOrName, num_merges: int,
                   max_words: int = 1 << 20, min_freq: int = 1):
    """Learn a BYTE-level BPE merge list (GPT-2/tiktoken lineage): UTF-8
    byte alphabet under a fully-specified byte-class pre-token scanner —
    case/punctuation-faithful, zero OOV, the unit real context windows
    charge. Deterministic; returns an opaque model handle."""
    return _bridge(corpus).byteBpeTrain(corpus._jdf, _jcol(text),
                                        int(num_merges), int(max_words),
                                        int(min_freq))


def byte_bpe_encode(text: ColumnOrName, model) -> Column:
    """Byte-level BPE token stream (array<string> in the GPT-2 display
    alphabet, 0x20 -> 'Ġ') — one narrow kernel pass, no shuffle."""
    return _col_fn("byteBpeEncode", _jcol(text), model)


def byte_bpe_token_count(text: ColumnOrName, model) -> Column:
    """Byte-level token count per row — the budget/packing input."""
    return _col_fn("byteBpeTokenCount", _jcol(text), model)


def byte_bpe_decode(tokens: ColumnOrName) -> Column:
    """EXACT-inverse byte-BPE detokenizer (model-free): display tokens ->
    bytes -> UTF-8 text; byte_bpe_decode(byte_bpe_encode(x, m)) == x for
    every string and any model."""
    return _col_fn("byteBpeDecode", _jcol(tokens))


def byte_bpe_encode_ids(text: ColumnOrName, model) -> Column:
    """Byte-BPE token-ID stream (array<int>) under the GPT-2 vocab
    construction (ids 0..255 = bytes, 256+i = merge i) — what a pipeline
    ships to a trainer; zero OOV carried into id space."""
    return _col_fn("byteBpeEncodeIds", _jcol(text), model)


def byte_bpe_decode_ids(ids: ColumnOrName, model) -> Column:
    """Exact inverse of byte_bpe_encode_ids under the same model: ids ->
    bytes -> UTF-8 text."""
    return _col_fn("byteBpeDecodeIds", _jcol(ids), model)


def byte_bpe_vocab_size(model) -> int:
    """The model's vocabulary size: 256 + num_merges."""
    sc = SparkContext._active_spark_context
    return int(_bridge(sc).byteBpeVocabSize(model))


def save_byte_bpe_vocab(spark: SparkSession, model, path: str) -> None:
    """Persist the id->token vocabulary as an (id, token) parquet table in
    the display alphabet (reads like a GPT-2 vocab.json)."""
    _bridge(spark.range(1)).saveByteBpeVocab(spark._jsparkSession, model,
                                             str(path))


def byte_bpe_encode_ids_special(text: ColumnOrName, model,
                                specials) -> Column:
    """byte_bpe_encode_ids with SPECIAL tokens (tiktoken allowed_special):
    each special literal matches leftmost-longest first and becomes its
    reserved id vocab_size + i; text between specials encodes normally."""
    return _col_fn("byteBpeEncodeIdsSpecial", _jcol(text), model,
                   _speclist(specials))


def byte_bpe_decode_ids_special(ids: ColumnOrName, model,
                                specials) -> Column:
    """Exact inverse of byte_bpe_encode_ids_special: reserved ids decode
    to the special's literal bytes."""
    return _col_fn("byteBpeDecodeIdsSpecial", _jcol(ids), model,
                   _speclist(specials))


def _speclist(specials):
    sc = SparkContext._active_spark_context
    jlist = sc._jvm.java.util.ArrayList()
    for s in specials:
        jlist.add(str(s))
    return jlist


def pack_token_ids(df: DataFrame, ids: ColumnOrName, order, capacity: int,
                   sep_id: int) -> DataFrame:
    """Materialize training shards -> (seq_id, ids: array<int>, n_docs):
    every document's token-ID stream plus one sep_id, concatenated in the
    total order `order` and cut into capacity-id rows (all full except the
    last). Rows stay O(docs + sequences) — documents explode only into the
    sequences they touch, carrying array slices."""
    spark = df.sparkSession
    jorder = spark._jvm.java.util.ArrayList()  # type: ignore[union-attr]
    for c in order:
        jorder.add(_jcol(c))
    jdf = _bridge(df).packTokenIds(df._jdf, _jcol(ids), jorder,
                                   int(capacity), int(sep_id))
    return DataFrame(jdf, spark)


def unpack_token_ids(packed: DataFrame, capacity: int,
                     sep_id: int) -> DataFrame:
    """Inverse of pack_token_ids for shard QA -> (doc_idx, ids): re-split
    the packed stream on sep_id into per-document id arrays (an
    empty-stream document is absent)."""
    jdf = _bridge(packed).unpackTokenIds(packed._jdf, int(capacity),
                                         int(sep_id))
    return DataFrame(jdf, packed.sparkSession)


def unpack_token_ids_range(packed: DataFrame, capacity: int, sep_id: int,
                           from_seq: int, until_seq: int) -> DataFrame:
    """Range-restricted unpack_token_ids — the sampled-QA mode: re-split
    ONLY sequences [from_seq, until_seq) and emit exactly the documents
    COMPLETE inside the range with their ABSOLUTE doc_idx (separator
    census stays O(sequences); only the range explodes to tokens)."""
    jdf = _bridge(packed).unpackTokenIdsRange(
        packed._jdf, int(capacity), int(sep_id), int(from_seq),
        int(until_seq))
    return DataFrame(jdf, packed.sparkSession)


def bpe_decode(tokens: ColumnOrName) -> Column:
    """LOSSY word-BPE detokenizer: the stream carries no word-boundary
    marker, so decode returns the concatenated lowercased ascii token
    stream (case/punctuation/whitespace never entered the stream)."""
    return _col_fn("bpeDecode", _jcol(tokens))


def wordpiece_decode(tokens: ColumnOrName) -> Column:
    """LOSSY WordPiece detokenizer: '##' continuation marks carry word
    boundaries, so decode rebuilds the space-joined lowercased ascii word
    stream exactly ([UNK]-free on training-corpus text)."""
    return _col_fn("wordPieceDecode", _jcol(tokens))


def unigram_decode(tokens: ColumnOrName) -> Column:
    """LOSSY unigram detokenizer: like word-BPE, no boundary marker —
    decode returns the concatenated lowercased ascii token stream."""
    return _col_fn("unigramDecode", _jcol(tokens))


def save_byte_bpe(spark: SparkSession, model, path: str) -> None:
    """Persist the byte-BPE merge list as a (rank, left, right) parquet
    table in the display alphabet (reads like a GPT-2 vocab file)."""
    _bridge(spark.range(1)).saveByteBpe(spark._jsparkSession, model, str(path))


def load_byte_bpe(spark: SparkSession, path: str):
    """Load a model persisted by save_byte_bpe (opaque model handle)."""
    return _bridge(spark.range(1)).loadByteBpe(spark._jsparkSession, str(path))


def chat_truncate_to_budget_byte_bpe(df: DataFrame, id: ColumnOrName,
                                     text: ColumnOrName, budget: int,
                                     model) -> DataFrame:
    """chat_truncate_to_budget with n_tokens counted by a trained
    byte-level BPE model — the kept set is exact in the units the model
    actually charges, not whitespace pieces."""
    jdf = _bridge(df).chatTruncateToBudgetByteBpe(
        df._jdf, _jcol(id), _jcol(text), int(budget), model)
    return DataFrame(jdf, df.sparkSession)


def chat_truncate_messages_to_budget_byte_bpe(df: DataFrame,
                                              id: ColumnOrName,
                                              json: ColumnOrName,
                                              budget: int, model) -> DataFrame:
    """The MESSAGES-format twin of chat_truncate_to_budget_byte_bpe."""
    jdf = _bridge(df).chatTruncateMessagesToBudgetByteBpe(
        df._jdf, _jcol(id), _jcol(json), int(budget), model)
    return DataFrame(jdf, df.sparkSession)


def wordpiece_train(corpus: DataFrame, text: ColumnOrName, vocab_size: int,
                    max_piece_len: int = 10, max_words: int = 1 << 20,
                    min_freq: int = 1):
    """Learn a WordPiece vocabulary (the greedy longest-match family, the
    BERT runtime rule) from the corpus's ascii word-frequency table:
    substring candidates scored by occurrence-weighted word frequency, all
    single-char pieces kept, top rest by (score desc, piece asc) — integer
    arithmetic end to end. Returns an opaque model handle."""
    return _bridge(corpus).wordPieceTrain(
        corpus._jdf, _jcol(text), int(vocab_size), int(max_piece_len),
        int(max_words), int(min_freq))


def wordpiece_encode(text: ColumnOrName, model) -> Column:
    """Greedy longest-match piece stream (array<string>) of the
    ascii-tokenized text; a position with no matching piece makes the whole
    word [UNK]. One narrow kernel pass, streaming-legal."""
    return _col_fn("wordPieceEncode", _jcol(text), model)


def wordpiece_token_count(text: ColumnOrName, model) -> Column:
    """Piece count per row — the token-budget / packing input."""
    return _col_fn("wordPieceTokenCount", _jcol(text), model)


def save_wordpiece(spark: SparkSession, model, path: str) -> None:
    """Persist the piece vocabulary as a one-column parquet table."""
    _bridge(spark.range(1)).saveWordPiece(spark._jsparkSession, model, str(path))


def load_wordpiece(spark: SparkSession, path: str):
    """Load a model persisted by save_wordpiece (opaque model handle)."""
    return _bridge(spark.range(1)).loadWordPiece(spark._jsparkSession, str(path))


def curriculum_order(df: DataFrame, id: ColumnOrName, score: ColumnOrName,
                     bands: int, salt: str,
                     band_col: str = "band",
                     order_col: str = "order_id") -> DataFrame:
    """Deterministic curriculum ordering: `bands` difficulty bands by the
    score column (exact integer rank split), shuffled within each band by
    the md5(salt || id) draw, with a global order id from the distributed
    3-phase row number -> df + (band_col, order_col). The output names must
    not already exist on df (fails fast instead of overwriting)."""
    jdf = _bridge(df).curriculumOrder(df._jdf, _jcol(id), _jcol(score),
                                      int(bands), str(salt),
                                      str(band_col), str(order_col))
    return DataFrame(jdf, df.sparkSession)


def split_sentences(text: ColumnOrName) -> Column:
    """array<string> of trimmed sentences under the fixed RE2-safe rule
    (terminator runs [.!?]+ end a sentence; trailing fragments kept;
    whitespace/punctuation-only input yields none)."""
    return _col_fn("splitSentences", _jcol(text))


def chunk_by_sentences(df: DataFrame, id: ColumnOrName, text: ColumnOrName,
                       token_budget: int, id_name: str = "id") -> DataFrame:
    """Sentence-aware chunking (the RAG upgrade over fixed token windows):
    one row per chunk (id, chunk_id, n_sentences, n_tokens, chunk_text);
    chunks break where the running whitespace-token count crosses a budget
    multiple and NEVER split a sentence. id_name renames the output id
    column (pass your own column's name to keep it)."""
    jdf = _bridge(df).chunkBySentences(df._jdf, _jcol(id), _jcol(text),
                                       int(token_budget), str(id_name))
    return DataFrame(jdf, df.sparkSession)


def schema_diff_dirs(spark, left_dir: str, right_dir: str) -> DataFrame:
    """Column-level schema drift between two parquet snapshot dirs (footer
    schemas only): (column, status, left_type, right_type), status in
    added|removed|type_changed|unchanged."""
    jdf = _bridge(spark.range(1)).schemaDiffDirs(
        spark._jsparkSession, str(left_dir), str(right_dir))
    return DataFrame(jdf, spark)


def _jstrmap(spark, d):
    jmap = spark._jvm.java.util.HashMap()
    for k, v in (d or {}).items():
        jmap.put(str(k), str(v))
    return jmap


def csv_read_validated(spark, path: str, schema_ddl: str,
                       options=None) -> DataFrame:
    """The CSV twin of jsonl_read_validated: declared fields +
    _corrupt_record. CSV being positional, an arity mismatch flags the
    record (unlike JSONL's null-for-absent-key). options passes dialect
    knobs (sep, quote, ...)."""
    jdf = _bridge(spark.range(1)).csvReadValidated(
        spark._jsparkSession, str(path), str(schema_ddl),
        _jstrmap(spark, options))
    return DataFrame(jdf, spark)


def csv_parse_lines(df: DataFrame, line: ColumnOrName, schema_ddl: str,
                    options=None) -> DataFrame:
    """Parse an existing CSV line column — streaming-legal."""
    jdf = _bridge(df).csvParseLines(df._jdf, _jcol(line), str(schema_ddl),
                                    _jstrmap(df.sparkSession, options))
    return DataFrame(jdf, df.sparkSession)


def streaming_top_keys_per_window(stream: DataFrame, key: ColumnOrName,
                                  event_time_column: str,
                                  window_duration: str, watermark_delay: str,
                                  k: int, capacity: int) -> DataFrame:
    """Streaming windowed heavy hitters with BOUNDED per-window state (a
    Misra-Gries summary of `capacity` counters, merged per micro-batch with
    the order-insensitive mergeable rule). A window's top k (count desc,
    key asc) rows emit once, when the watermark passes the window end ->
    (window_start, rank, key, est_count). Estimates never exceed truth;
    keys with frequency > total/(capacity+1) always survive."""
    jdf = _bridge(stream).streamingTopKeysPerWindow(
        stream._jdf, _jcol(key), str(event_time_column),
        str(window_duration), str(watermark_delay), int(k), int(capacity))
    return DataFrame(jdf, stream.sparkSession)


def jsonl_read_validated(spark, path: str, schema_ddl: str) -> DataFrame:
    """Read a JSONL path against a DECLARED schema (DDL string, e.g.
    "doc_id BIGINT, lang STRING"): declared fields expanded plus
    _corrupt_record (null for clean rows, the verbatim line otherwise).
    Split with jsonl_good / jsonl_quarantine."""
    jdf = _bridge(spark.range(1)).jsonlReadValidated(
        spark._jsparkSession, str(path), str(schema_ddl))
    return DataFrame(jdf, spark)


def jsonl_parse_lines(df: DataFrame, line: ColumnOrName,
                      schema_ddl: str) -> DataFrame:
    """Parse an existing line column against a declared schema — the same
    contract as jsonl_read_validated, streaming-legal."""
    jdf = _bridge(df).jsonlParseLines(df._jdf, _jcol(line), str(schema_ddl))
    return DataFrame(jdf, df.sparkSession)


def jsonl_good(parsed: DataFrame) -> DataFrame:
    """The clean channel: fully parsed rows, corrupt column dropped."""
    return DataFrame(_bridge(parsed).jsonlGood(parsed._jdf),
                     parsed.sparkSession)


def jsonl_quarantine(parsed: DataFrame) -> DataFrame:
    """The quarantine channel: the verbatim offending lines."""
    return DataFrame(_bridge(parsed).jsonlQuarantine(parsed._jdf),
                     parsed.sparkSession)


def write_ordered_batches(df: DataFrame, batch_col: ColumnOrName,
                          num_batches: int, path: str) -> str:
    """Write df as one parquet file per batch_col value (0-based, dense)
    with strictly increasing file modification times — the deterministic
    replay input for read_ordered_batches. Returns the schema JSON to pass
    back to read_ordered_batches."""
    return _bridge(df).writeOrderedBatches(
        df._jdf, _jcol(batch_col), int(num_batches), str(path))


def read_ordered_batches(spark: SparkSession, path: str, schema_json: str) -> DataFrame:
    """Open a write_ordered_batches directory as a file-source STREAM
    replaying one file per micro-batch, oldest first."""
    jdf = _bridge(spark.range(1)).readOrderedBatches(
        spark._jsparkSession, str(path), str(schema_json))
    return DataFrame(jdf, spark)


def drain_to_parquet(stream: DataFrame, sink_path: str, checkpoint_path: str,
                     await_no_data_batch: bool = False) -> DataFrame:
    """Run a streaming DataFrame to exhaustion into an append-mode parquet
    sink and return the sink read back as a batch DataFrame.
    await_no_data_batch=True additionally waits for the watermark-finalizing
    zero-input micro-batch (required for append-mode windowed aggregation)."""
    jdf = _bridge(stream).drainToParquet(
        stream._jdf, str(sink_path), str(checkpoint_path), bool(await_no_data_batch))
    return DataFrame(jdf, stream.sparkSession)


def containment_candidates_stream(stream: DataFrame, id_col: ColumnOrName,
                                  text: ColumnOrName, event_time_column: str,
                                  delay_threshold: str, shingle_size: int = 3,
                                  window: int = 4) -> DataFrame:
    """Streaming excerpt/containment candidates: later docs colliding with a
    winnowed print's FIRST owner (16-byte state per print, watermark-bounded);
    verify exact containment downstream per micro-batch."""
    jdf = _bridge(stream).containmentCandidatesStream(
        stream._jdf, _jcol(id_col), _jcol(text), event_time_column,
        delay_threshold, int(shingle_size), int(window))
    return DataFrame(jdf, stream.sparkSession)


def corpus_bucket_first(corpus: DataFrame, id_col: ColumnOrName,
                        text: ColumnOrName, shingle_size: int = 3,
                        bands: int = 16, rows_per_band: int = 8) -> DataFrame:
    """Bucket-first table (band, bucket, firstDocId) of a batch corpus —
    the seed for near_dup_candidates_seeded_stream. Compute once per corpus
    snapshot; row count = the corpus's distinct LSH buckets, not its docs."""
    jdf = _bridge(corpus).corpusBucketFirst(
        corpus._jdf, _jcol(id_col), _jcol(text), int(shingle_size),
        int(bands), int(rows_per_band))
    return DataFrame(jdf, corpus.sparkSession)


def near_dup_candidates_seeded_stream(stream: DataFrame, id_col: ColumnOrName,
                                      text: ColumnOrName, event_time_column: str,
                                      delay_threshold: str, seed: DataFrame,
                                      shingle_size: int = 3, bands: int = 16,
                                      rows_per_band: int = 8,
                                      state_retention_ms: int = 3600000) -> DataFrame:
    """Streaming near-dup bootstrapped from an existing corpus: seed is the
    corpus_bucket_first output — the corpus is never replayed; its buckets
    pre-populate the state store (permanent, never evicted) so micro-batch 0
    already collides new docs against the whole corpus. Stream-created
    buckets evict past watermark + retention as usual."""
    jdf = _bridge(stream).minHashCandidatesSeededStream(
        stream._jdf, _jcol(id_col), _jcol(text), event_time_column,
        delay_threshold, seed._jdf, int(shingle_size), int(bands),
        int(rows_per_band), int(state_retention_ms))
    return DataFrame(jdf, stream.sparkSession)


def cap_per_domain_stream(stream: DataFrame, id_col: ColumnOrName,
                          url: ColumnOrName, max_per_domain: int,
                          event_time_column: str, delay_threshold: str,
                          state_retention_ms: int = 86400000) -> DataFrame:
    """Streaming per-domain admission cap (first-arrival k per registrable
    domain): one 8-byte counter per domain, evicted (budget restarts) once
    idle past watermark + retention. Output (domain, docId, rank, ts)."""
    jdf = _bridge(stream).capPerDomainStream(
        stream._jdf, _jcol(id_col), _jcol(url), int(max_per_domain),
        event_time_column, delay_threshold, int(state_retention_ms))
    return DataFrame(jdf, stream.sparkSession)


def drop_duplicate_texts_within_watermark(stream: DataFrame, text: ColumnOrName,
                                          event_time_column: str,
                                          delay_threshold: str) -> DataFrame:
    """Streaming exact-text dedup: keep the first document per normalized
    text fingerprint, with state bounded by the watermark."""
    jdf = _bridge(stream).dropDuplicateTextsWithinWatermark(
        stream._jdf, _jcol(text), str(event_time_column), str(delay_threshold))
    return DataFrame(jdf, stream.sparkSession)


def deduplicate_minhash(df: DataFrame, id_col: ColumnOrName, text: ColumnOrName,
                        shingle_size: int = 3, bands: int = 16,
                        rows_per_band: int = 8, threshold: float = 0.8) -> DataFrame:
    """End-to-end MinHash near-dup dedup: keep first of every duplicate set."""
    jdf = _bridge(df).deduplicateMinHash(
        df._jdf, _jcol(id_col), _jcol(text),
        int(shingle_size), int(bands), int(rows_per_band), float(threshold))
    return DataFrame(jdf, df.sparkSession)


def curate(df: DataFrame, id_col: ColumnOrName, text: ColumnOrName, *,
           keep_langs: List[str] = ("en",),
           min_tokens: int = 50, max_tokens: int = 100000,
           min_avg_token_len: float = 3.0, max_avg_token_len: float = 10.0,
           min_stopword_ratio: float = 0.02, max_top_bigram_fraction: float = 0.18,
           classifier_weights: List[int] = None,
           classifier_bias: int = 0, classifier_threshold: int = 0,
           dsir_weights: List[int] = None, dsir_threshold: int = 0,
           minhash_threshold: float = 0.8, shingle_size: int = 3,
           bands: int = 16, rows_per_band: int = 8,
           blocklist: DataFrame = None, blocklist_text: ColumnOrName = None,
           blocklist_shingle_size: int = 5, min_overlap: int = 1,
           sample_rate: float = 1.0, sample_salt: str = "graft",
           dsir_portable_hash: bool = True):
    """End-to-end curation pass (langid -> quality -> classifier -> exact
    dedup -> minhash near-dup -> decontaminate -> hash sample). Returns
    (curated, report): curated keeps all original columns; report is one
    (stage, n_rows) row per executed stage including 0_input. Pass
    keep_langs=[] to skip language filtering, classifier_weights=None to
    skip the model filter, dsir_weights=None to skip the DSIR
    target-likeness filter, blocklist=None to skip decontamination,
    sample_rate=1.0 to skip sampling. dsir_portable_hash must match the
    setting the DSIR weights were fitted under (dsir_fit_weights) —
    scoring under the wrong bucket family silently misfilters. All
    configuration parameters are keyword-only so signature growth can
    never silently shift a positional call. The leading filters' counts
    come from one fused aggregate; each shuffling stage is persisted and
    counted once, and the curated rows are returned pinned, with no cache
    left behind."""
    sess = df.sparkSession
    jarr = _bridge(df).curate(
        df._jdf, _jcol(id_col), _jcol(text), list(keep_langs),
        int(min_tokens), int(max_tokens),
        float(min_avg_token_len), float(max_avg_token_len),
        float(min_stopword_ratio), float(max_top_bigram_fraction),
        None if classifier_weights is None else [int(w) for w in classifier_weights],
        int(classifier_bias), int(classifier_threshold),
        None if dsir_weights is None else [int(w) for w in dsir_weights],
        int(dsir_threshold),
        float(minhash_threshold), int(shingle_size), int(bands), int(rows_per_band),
        blocklist._jdf if blocklist is not None else None,
        _jcol(blocklist_text if blocklist_text is not None else text),
        int(blocklist_shingle_size), int(min_overlap),
        float(sample_rate), sample_salt, bool(dsir_portable_hash))
    return DataFrame(jarr[0], sess), DataFrame(jarr[1], sess)


def curate_increment(df: DataFrame, id_col: ColumnOrName,
                     text: ColumnOrName, index_path: str, *,
                     keep_langs: List[str] = ("en",),
                     min_tokens: int = 50, max_tokens: int = 100000,
                     min_avg_token_len: float = 3.0,
                     max_avg_token_len: float = 10.0,
                     min_stopword_ratio: float = 0.02,
                     max_top_bigram_fraction: float = 0.18,
                     classifier_weights: List[int] = None,
                     classifier_bias: int = 0, classifier_threshold: int = 0,
                     dsir_weights: List[int] = None, dsir_threshold: int = 0,
                     minhash_threshold: float = 0.8,
                     sample_rate: float = 1.0, sample_salt: str = "graft",
                     append_survivors: bool = True,
                     dsir_portable_hash: bool = True):
    """The daily-ingest loop in one call: curate a NEW batch against a
    persisted dedup index (save_dedup_index) — narrow quality stages,
    batch-internal exact + near-dup dedup, near-dup against the index
    (reference text never re-read; shingle/banding config comes FROM the
    index), then survivors appended so tomorrow's batch sees them.
    append_survivors=False audits without mutating. Returns
    (survivors, report)."""
    sess = df.sparkSession
    jarr = _bridge(df).curateIncrement(
        df._jdf, _jcol(id_col), _jcol(text), str(index_path),
        list(keep_langs), int(min_tokens), int(max_tokens),
        float(min_avg_token_len), float(max_avg_token_len),
        float(min_stopword_ratio), float(max_top_bigram_fraction),
        None if classifier_weights is None else [int(w) for w in classifier_weights],
        int(classifier_bias), int(classifier_threshold),
        None if dsir_weights is None else [int(w) for w in dsir_weights],
        int(dsir_threshold), float(minhash_threshold),
        float(sample_rate), sample_salt, bool(append_survivors),
        bool(dsir_portable_hash))
    return DataFrame(jarr[0], sess), DataFrame(jarr[1], sess)


def register_sql_functions(spark) -> None:
    """Register every graft kernel into the session's SQL function registry,
    so `spark.sql("SELECT tokenize_ascii(text) ...")` works from Python too."""
    _bridge(spark).registerSqlFunctions(spark._jsparkSession)


def connected_components(pairs: DataFrame, id_a: ColumnOrName = "idA",
                         id_b: ColumnOrName = "idB",
                         max_iterations: int = 50) -> DataFrame:
    """Connected components of the undirected pair graph (alternating
    large-star/small-star): one row (id, component) per distinct node,
    component = smallest id in the node's component."""
    jdf = _bridge(pairs).connectedComponents(
        pairs._jdf, _jcol(id_a), _jcol(id_b), int(max_iterations))
    return DataFrame(jdf, pairs.sparkSession)


def assign_clusters(df: DataFrame, id_col: ColumnOrName, pairs: DataFrame,
                    cluster_column: str = "cluster_id",
                    max_iterations: int = 50) -> DataFrame:
    """Attach the near-dup component minimum as `cluster_column` (the row's
    own id when it has no duplicate). `pairs` must carry idA/idB columns."""
    jdf = _bridge(df).assignClusters(
        df._jdf, _jcol(id_col), pairs._jdf, cluster_column, int(max_iterations))
    return DataFrame(jdf, df.sparkSession)


def deduplicate_by_clusters(df: DataFrame, id_col: ColumnOrName, pairs: DataFrame,
                            max_iterations: int = 50) -> DataFrame:
    """Keep one document per near-dup component (the smallest id) — honors
    transitivity that pairwise keep-first misses."""
    jdf = _bridge(df).deduplicateByClusters(
        df._jdf, _jcol(id_col), pairs._jdf, int(max_iterations))
    return DataFrame(jdf, df.sparkSession)


def keep_best_by_clusters(df: DataFrame, id_col: ColumnOrName,
                          score: ColumnOrName, pairs: DataFrame,
                          max_iterations: int = 50) -> DataFrame:
    """Keep one document per near-dup component: the HIGHEST `score`
    (quality prior), ties broken by smallest id. The per-component argmax
    plans as a map-side WindowGroupLimit rank-1 filter."""
    jdf = _bridge(df).keepBestByClusters(
        df._jdf, _jcol(id_col), _jcol(score), pairs._jdf, int(max_iterations))
    return DataFrame(jdf, df.sparkSession)


def split_by_clusters(df: DataFrame, id_col: ColumnOrName, pairs: DataFrame,
                      weights: Dict[str, float], salt: str = "graft",
                      output_column: str = "split",
                      cluster_column: str = "cluster_id",
                      max_iterations: int = 50) -> DataFrame:
    """Leakage-safe train/val/test split: the split hash is computed on the
    near-dup CLUSTER id, so a whole family of near-duplicates lands in
    exactly one split (a doc-hash split would put copy A in train and copy
    B in test — silent eval inflation)."""
    names = list(weights.keys())
    jdf = _bridge(df).splitByClusters(
        df._jdf, _jcol(id_col), pairs._jdf, names,
        [float(weights[n]) for n in names], salt, output_column,
        cluster_column, int(max_iterations))
    return DataFrame(jdf, df.sparkSession)


def soft_dedup_weights(df: DataFrame, id_col: ColumnOrName, pairs: DataFrame,
                       alpha: float = 1.0, weight_column: str = "dedup_weight",
                       cluster_column: str = "cluster_id",
                       max_iterations: int = 50) -> DataFrame:
    """Soft dedup: weight each document `cluster_size^(-alpha)` instead of
    dropping duplicates — at alpha=1 every near-dup cluster contributes one
    unit of total weight (hard dedup in expectation); alpha=0 is no dedup."""
    jdf = _bridge(df).softDedupWeights(
        df._jdf, _jcol(id_col), pairs._jdf, float(alpha), weight_column,
        cluster_column, int(max_iterations))
    return DataFrame(jdf, df.sparkSession)


def deduplicate_minhash_clusters(df: DataFrame, id_col: ColumnOrName,
                                 text: ColumnOrName, shingle_size: int = 3,
                                 bands: int = 16, rows_per_band: int = 8,
                                 threshold: float = 0.8) -> DataFrame:
    """End-to-end: MinHash near-dup pairs -> connected components ->
    keep-min-per-component."""
    jdf = _bridge(df).deduplicateMinHashClusters(
        df._jdf, _jcol(id_col), _jcol(text),
        int(shingle_size), int(bands), int(rows_per_band), float(threshold))
    return DataFrame(jdf, df.sparkSession)


def hash_sample(df: DataFrame, key: ColumnOrName, rate: float,
                salt: str = "graft") -> DataFrame:
    """Deterministic hash sampling: keep a `rate` fraction decided per row by
    md5(salt||key) — reproducible across partitionings and engines."""
    jdf = _bridge(df).hashSample(df._jdf, _jcol(key), float(rate), salt)
    return DataFrame(jdf, df.sparkSession)


def epoch_shuffle(df: DataFrame, id: ColumnOrName, seed: int, epoch: int,
                  position_column: str = "shuffle_pos") -> DataFrame:
    """Deterministic epoch shuffle: the same (seed, epoch) yields the same
    global training-order permutation (1..N in `position_column`) on every
    run, cluster size, and engine; different epochs are independent. One
    range exchange + the 3-phase row-number plan — no single-partition
    window, no rand()."""
    jdf = _bridge(df).epochShuffle(df._jdf, _jcol(id), int(seed), int(epoch),
                                   position_column)
    return DataFrame(jdf, df.sparkSession)


def epoch_shards(df: DataFrame, id: ColumnOrName, seed: int, epoch: int,
                 num_shards: int, shard_column: str = "shard",
                 pos_column: str = "shard_pos") -> DataFrame:
    """Epoch-sharded variant without a global order: deterministic (shard,
    pos-in-shard) per row — num_shards independent internally-shuffled
    streams from ONE hash exchange; strictly cheaper than epoch_shuffle
    when shards are consumed in parallel."""
    jdf = _bridge(df).epochShards(df._jdf, _jcol(id), int(seed), int(epoch),
                                  int(num_shards), shard_column, pos_column)
    return DataFrame(jdf, df.sparkSession)


def with_lateness(df: DataFrame, arrival: ColumnOrName,
                  event_time: ColumnOrName,
                  output_column: str = "lateness_us") -> DataFrame:
    """Per-event lateness in integer microseconds against the streaming
    watermark recurrence: an exclusive running max of event time over
    arrival order (three-phase plan, no single-partition window)."""
    jdf = _bridge(df).withLateness(df._jdf, _jcol(arrival),
                                   _jcol(event_time), str(output_column))
    return DataFrame(jdf, df.sparkSession)


def watermark_plan(df: DataFrame, arrival: ColumnOrName,
                   event_time: ColumnOrName, delays_seconds) -> DataFrame:
    """Watermark planning report: per candidate delay, how many events a
    delay-d watermark would silently drop -> (delay_s, events, dropped,
    max_lateness_us). Pick the smallest acceptable delay from measured
    disorder instead of folklore."""
    jdf = _bridge(df).watermarkPlan(df._jdf, _jcol(arrival),
                                    _jcol(event_time),
                                    [int(d) for d in delays_seconds])
    return DataFrame(jdf, df.sparkSession)


def streaming_lateness_by_window(stream: DataFrame, event_time_column: str,
                                 ingest_time: ColumnOrName,
                                 window_duration: str, watermark_delay: str,
                                 delays_seconds) -> DataFrame:
    """Live lateness monitor (the streaming twin of watermark_plan):
    lateness = ingest minus event time per row (stateless, exact integer
    micros), aggregated per event-time window and candidate delay ->
    (window, delay_s, events, dropped, max_lateness_us). Append-legal;
    state bounded at |open windows| x |delays| rows."""
    jdf = _bridge(stream).streamingLatenessByWindow(
        stream._jdf, str(event_time_column), _jcol(ingest_time),
        str(window_duration), str(watermark_delay),
        [int(d) for d in delays_seconds])
    return DataFrame(jdf, stream.sparkSession)


def length_bucket_batches(df: DataFrame, id: ColumnOrName,
                          n_tokens: ColumnOrName, batch_size: int,
                          seed: int = 0) -> DataFrame:
    """Padding-efficient batch assembly: power-of-two length buckets
    (integer bit-length boundary), seeded per-bucket shuffle, then
    (batch_id, pos_in_batch) by position -> (id, n_tokens, bucket,
    padded_to, batch_id, pos_in_batch); per-row padding waste < 50%."""
    jdf = _bridge(df).lengthBucketBatches(
        df._jdf, _jcol(id), _jcol(n_tokens), int(batch_size), int(seed))
    return DataFrame(jdf, df.sparkSession)


def stratified_hash_sample(df: DataFrame, strata: ColumnOrName,
                           key: ColumnOrName, rates: dict,
                           default_rate: float, salt: str = "graft") -> DataFrame:
    """Per-stratum sampling rates ({stratum value: rate}) with a default for
    unlisted strata; same per-row hash decision as hash_sample."""
    jdf = _bridge(df).stratifiedHashSample(
        df._jdf, _jcol(strata), _jcol(key),
        {str(k): float(v) for k, v in rates.items()}, float(default_rate), salt)
    return DataFrame(jdf, df.sparkSession)


def temperature_sample(df: DataFrame, domain: ColumnOrName, key: ColumnOrName,
                       alpha: float = 0.5, salt: str = "graft") -> DataFrame:
    """Temperature-based source balancing: sample domain d at rate
    (count_min/count_d)^(1-alpha) — the largest no-upsampling mixture whose
    realized shares follow count^alpha. alpha=1 keeps natural proportions,
    alpha=0 flattens to equal counts, 0.5 square-roots the imbalance."""
    jdf = _bridge(df).temperatureSample(
        df._jdf, _jcol(domain), _jcol(key), float(alpha), salt)
    return DataFrame(jdf, df.sparkSession)


def split_by_hash(df: DataFrame, key: ColumnOrName, weights: dict,
                  salt: str = "graft", output_column: str = "split") -> DataFrame:
    """Deterministic train/val/test splitting: {name: weight} buckets chosen
    by the same md5-threshold hash as hash_sample (weights must sum to 1);
    a row's split never changes across runs, partitionings, or engines."""
    names = list(weights.keys())
    jdf = _bridge(df).splitByHash(
        df._jdf, _jcol(key), names, [float(weights[n]) for n in names],
        salt, output_column)
    return DataFrame(jdf, df.sparkSession)


def gopher_filter(df: DataFrame, text: ColumnOrName,
                  min_tokens: int = 50, max_tokens: int = 100000,
                  min_avg_token_len: float = 3.0, max_avg_token_len: float = 10.0,
                  min_stopword_ratio: float = 0.02,
                  max_top_bigram_fraction: float = 0.18) -> DataFrame:
    """Gopher-style composite quality filter (token count, mean token
    length, stopword mass, top-bigram repetition) over the fused kernels."""
    jdf = _bridge(df).gopherFilter(
        df._jdf, _jcol(text), int(min_tokens), int(max_tokens),
        float(min_avg_token_len), float(max_avg_token_len),
        float(min_stopword_ratio), float(max_top_bigram_fraction))
    return DataFrame(jdf, df.sparkSession)


def fold_accents(text: ColumnOrName) -> Column:
    """Accent folding (NFD, drop combining marks, NFC recompose) — run
    before fingerprints/shingles when diacritic variants should dedup
    together. Undecomposable letters pass through unchanged."""
    return _col_fn("foldAccents", _jcol(text))


def script_profile(text: ColumnOrName) -> Column:
    """Unicode script-mix profile over codepoints -> array<long>
    [total, latin, cyrillic, greek, arabic, cjk, digit]; explicit
    engine-portable ranges (astral codepoints count once, class-less)."""
    return _col_fn("scriptProfile", _jcol(text))


def matched_patterns(text: ColumnOrName, patterns: List[str]) -> Column:
    """Distinct ids (ascending) of the fixed phrases occurring verbatim in
    the text — one Aho-Corasick pass regardless of list size. Byte-exact,
    case-sensitive; lowercase both sides for case-insensitive lists."""
    return _col_fn("matchedPatterns", _jcol(text), [str(p) for p in patterns])


def mask_patterns(text: ColumnOrName, patterns: List[str],
                  mask: str = "[REDACTED]") -> Column:
    """Every leftmost-longest non-overlapping occurrence of the fixed
    phrases replaced by `mask` — in-place blocklist scrubbing (keep the
    document, drop the phrase) in one Aho-Corasick pass."""
    return _col_fn("maskPatterns", _jcol(text), [str(p) for p in patterns],
                   str(mask))


def strip_html(text: ColumnOrName, decode_numeric_entities: bool = False,
               decode_named_entities: bool = False) -> Column:
    """HTML-to-text extraction: drop script/style/comments/tags, decode
    entities (after stripping), collapse whitespace — narrow and
    streaming-legal. Default: RE2-safe regex chain (5 XML entities + nbsp;
    numeric refs become one space). decode_numeric_entities=True decodes
    numeric refs to their code points via the codegen kernel.
    decode_named_entities=True switches to the one-pass kernel decoding the
    full HTML 4.01 named set (+ apos) AND numeric refs together — double
    escapes drop exactly one level; subsumes decode_numeric_entities."""
    if decode_numeric_entities or decode_named_entities:
        return _col_fn("stripHtmlDecoded", _jcol(text),
                       bool(decode_numeric_entities), bool(decode_named_entities))
    return _col_fn("stripHtml", _jcol(text))


def decode_numeric_entities(text: ColumnOrName) -> Column:
    """Decode HTML numeric character references (&#65; / &#x1F600;) to
    their code points; whitespace-class/control/invalid refs become one
    space, malformed refs stay literal."""
    return _col_fn("decodeNumericEntities", _jcol(text))


def decode_html_entities(text: ColumnOrName) -> Column:
    """One-pass named (HTML 4.01 set + apos) and numeric character-
    reference decode; unknown names stay literal, double escapes drop
    exactly one level."""
    return _col_fn("decodeHtmlEntities", _jcol(text))


def dehyphenate(text: ColumnOrName) -> Column:
    """Rejoin words hyphen-split across line breaks ('exam-\\nple' ->
    'example'): ASCII letter + '-' + optional spaces + newline + optional
    indent + a LOWERCASE letter joins; dashes ('--'), uppercase/digit
    continuations, and mid-line hyphens are preserved. Chained breaks
    repair in one pass."""
    return _col_fn("dehyphenate", _jcol(text))


def fix_mojibake(text: ColumnOrName) -> Column:
    """Repair UTF-8-read-as-cp1252 corruption ('Ã©' -> 'é') by inverting
    the mis-decode and strictly re-decoding as UTF-8, to a fixpoint
    (handles double corruption); whole-string and conservative — text that
    doesn't round-trip exactly stays unchanged."""
    return _col_fn("fixMojibake", _jcol(text))


def cdc_chunks(payload: ColumnOrName, avg_bits: int = 12,
               min_size: int = 2048, max_size: int = 16384) -> Column:
    """Content-defined chunking of a binary payload: struct(hashes
    array<long>, sizes array<int>) — Gear rolling-hash boundaries (cut when
    the masked hash hits zero past min_size, or at max_size), FNV-1a 64
    chunk ids. Insertion-stable: an edit shifts only nearby chunks."""
    return _col_fn("cdcChunks", _jcol(payload), int(avg_bits),
                   int(min_size), int(max_size))


def chunk_dedup_report(df: DataFrame, payload: ColumnOrName,
                       avg_bits: int = 12, min_size: int = 2048,
                       max_size: int = 16384) -> DataFrame:
    """One-row corpus report: total/distinct chunk counts and bytes plus
    dedup_ratio — the fraction of payload mass a content-addressed chunk
    store would not write. Payload bytes never shuffle; only (hash, size)
    pairs reach the aggregate."""
    jdf = _bridge(df).chunkDedupReport(
        df._jdf, _jcol(payload), int(avg_bits), int(min_size), int(max_size))
    return DataFrame(jdf, df.sparkSession)


def payload_near_dup_pairs(df: DataFrame, id_col: ColumnOrName,
                           payload: ColumnOrName, min_shared_bytes: int = 1,
                           min_containment: float = 0.5,
                           max_chunk_copies: int = 1000, avg_bits: int = 12,
                           min_size: int = 2048, max_size: int = 16384) -> DataFrame:
    """Payload near-dup pairs from shared CDC chunk mass: (idA, idB,
    shared_bytes, containment) where containment = shared / min(total_a,
    total_b) over each payload's DISTINCT chunk set. Chunks shared by more
    than max_chunk_copies payloads are dropped before the join (the
    boilerplate-chunk guard: container magic, padding blocks)."""
    jdf = _bridge(df).payloadNearDupPairs(
        df._jdf, _jcol(id_col), _jcol(payload), int(min_shared_bytes),
        float(min_containment), int(max_chunk_copies), int(avg_bits),
        int(min_size), int(max_size))
    return DataFrame(jdf, df.sparkSession)


def redact_pii(text: ColumnOrName, token: str = "[REDACTED]") -> Column:
    """Replace emails, IPv4 addresses and 9+ digit runs with `token`."""
    return _col_fn("redactPii", _jcol(text), token)


def redact_emails(text: ColumnOrName, token: str = "[REDACTED]") -> Column:
    return _col_fn("redactEmails", _jcol(text), token)


def redact_ipv4(text: ColumnOrName, token: str = "[REDACTED]") -> Column:
    return _col_fn("redactIpv4", _jcol(text), token)


def redact_long_digits(text: ColumnOrName, token: str = "[REDACTED]") -> Column:
    return _col_fn("redactLongDigits", _jcol(text), token)


def asof_join(left: DataFrame, right: DataFrame, keys: List[str],
              left_ts_col: str, right_ts_col: str, right_payload: List[str],
              prefix: str = "asof_", tolerance: Column = None,
              direction: str = "backward",
              time_bucket_width: float = None) -> DataFrame:
    """Point-in-time join: for each left row, the payload of the latest
    right row at-or-before ("backward") or earliest at-or-after ("forward"),
    per key. One keyed sort + running window — no inequality nested loop.
    time_bucket_width (numeric timestamps) sub-keys the shuffle by
    floor(ts / width) so one dominant key spreads over many tasks; results
    are identical (boundary state is stitched back in)."""
    jdf = _bridge(left).asofJoin(
        left._jdf, right._jdf, list(keys), left_ts_col, right_ts_col,
        list(right_payload), prefix,
        _to_java_column(tolerance) if tolerance is not None else None,
        direction,
        float(time_bucket_width) if time_bucket_width is not None else None)
    return DataFrame(jdf, left.sparkSession)


def range_join(points: DataFrame, point_col: str, intervals: DataFrame,
               lo_col: str, hi_col: str, bin_width: float,
               keys: List[str] = ()) -> DataFrame:
    """All (point, interval) pairs with lo <= point <= hi (optionally also
    matching equi-keys), via fixed-width bin equi-join + exact BETWEEN
    post-filter."""
    jdf = _bridge(points).rangeJoin(
        points._jdf, point_col, intervals._jdf, lo_col, hi_col,
        float(bin_width), list(keys))
    return DataFrame(jdf, points.sparkSession)


def with_session_index(df: DataFrame, key: ColumnOrName, ts: ColumnOrName,
                       gap: Column, session_column: str = "session_idx") -> DataFrame:
    """Number each row's inactivity-gap session within its key (1-based)."""
    jdf = _bridge(df).withSessionIndex(
        df._jdf, _jcol(key), _jcol(ts), _to_java_column(gap), session_column)
    return DataFrame(jdf, df.sparkSession)


def session_bounds(df: DataFrame, key: ColumnOrName, ts: ColumnOrName,
                   gap: Column) -> DataFrame:
    """Per-session aggregate: (key, session_idx, n_events, start, end)."""
    jdf = _bridge(df).sessionBounds(df._jdf, _jcol(key), _jcol(ts), _to_java_column(gap))
    return DataFrame(jdf, df.sparkSession)


def brute_force_top_k(queries: DataFrame, corpus: DataFrame,
                      query_id: ColumnOrName, query_vec: ColumnOrName,
                      corpus_id: ColumnOrName, corpus_vec: ColumnOrName,
                      k: int) -> DataFrame:
    """Exact cosine top-k: (query_id, rank, neighbor_id, cosine)."""
    jdf = _bridge(queries).bruteForceTopK(
        queries._jdf, corpus._jdf, _jcol(query_id), _jcol(query_vec),
        _jcol(corpus_id), _jcol(corpus_vec), int(k))
    return DataFrame(jdf, queries.sparkSession)


def train_pq(corpus: DataFrame, id: ColumnOrName, vec: ColumnOrName,
             dim: int, m: int, ksub: int, iterations: int = 3):
    """Train a product quantizer (deterministic per-subspace Lloyd's).
    Returns an opaque index handle for pq_encode / pq_top_k."""
    return _bridge(corpus).trainPq(corpus._jdf, _jcol(id), _jcol(vec),
                                   int(dim), int(m), int(ksub), int(iterations))


def pq_encode(corpus: DataFrame, id: ColumnOrName, vec: ColumnOrName,
              index) -> DataFrame:
    """Encode a corpus to (neighbor_id, codes, cnorm): m bytes per vector —
    the table a production pipeline writes once and scans per query batch."""
    jdf = _bridge(corpus).pqEncode(corpus._jdf, _jcol(id), _jcol(vec), index)
    return DataFrame(jdf, corpus.sparkSession)


def pq_top_k(queries: DataFrame, corpus: DataFrame,
             query_id: ColumnOrName, query_vec: ColumnOrName,
             corpus_id: ColumnOrName, corpus_vec: ColumnOrName,
             index, k: int, refine: int = 8) -> DataFrame:
    """PQ approximate top-k with exact re-rank:
    (query_id, rank, neighbor_id, cosine)."""
    jdf = _bridge(queries).pqTopK(
        queries._jdf, corpus._jdf, _jcol(query_id), _jcol(query_vec),
        _jcol(corpus_id), _jcol(corpus_vec), index, int(k), int(refine))
    return DataFrame(jdf, queries.sparkSession)


def ivf_pq_top_k(queries: DataFrame, corpus: DataFrame,
                 query_id: ColumnOrName, query_vec: ColumnOrName,
                 corpus_id: ColumnOrName, corpus_vec: ColumnOrName,
                 ivf, index, k: int, nprobe: int = 2, refine: int = 8,
                 residual: bool = False) -> DataFrame:
    """The composed IVF x PQ plan (IVFADC): queries probe their nprobe
    nearest coarse buckets (broadcast equi-join on the bucket id), the O(m)
    ADC kernel scores only those buckets' m-byte codes, and the k*refine
    shortlist re-ranks against full vectors for exact cosines. residual=True
    expects an index from train_pq_residual (codes quantize vec minus its
    assigned centroid — better recall at the same code size).
    Returns (query_id, rank, neighbor_id, cosine)."""
    jdf = _bridge(queries).ivfPqTopK(
        queries._jdf, corpus._jdf, _jcol(query_id), _jcol(query_vec),
        _jcol(corpus_id), _jcol(corpus_vec), ivf, index,
        int(k), int(nprobe), int(refine), bool(residual))
    return DataFrame(jdf, queries.sparkSession)


def train_pq_residual(corpus: DataFrame, id: ColumnOrName, vec: ColumnOrName,
                      ivf, dim: int, m: int, ksub: int, iterations: int = 3):
    """Train a product quantizer on IVF residuals (vec - assigned centroid)
    — the paper-faithful IVFADC layout. Pair with
    ivf_pq_top_k(..., residual=True) / pq_encode_residual."""
    return _bridge(corpus).trainPqResidual(
        corpus._jdf, _jcol(id), _jcol(vec), ivf,
        int(dim), int(m), int(ksub), int(iterations))


def pq_encode_residual(corpus: DataFrame, id: ColumnOrName, vec: ColumnOrName,
                       ivf, index) -> DataFrame:
    """Residual encode to (cid, neighbor_id, codes, cnorm): PQ codes of
    vec - centroid(cid) with exact reconstruction norms — the table a
    production IVFADC pipeline writes once."""
    jdf = _bridge(corpus).pqEncodeResidual(
        corpus._jdf, _jcol(id), _jcol(vec), ivf, index)
    return DataFrame(jdf, corpus.sparkSession)


def bm25_top_k(docs: DataFrame, doc_id: ColumnOrName, text: ColumnOrName,
               queries: DataFrame, query_id: ColumnOrName,
               query_terms: ColumnOrName, k: int,
               scale: int = 1000000) -> DataFrame:
    """BM25 top-k docs per query (k1=1.2, b=0.75, bit-length idf, exact
    fixed-point arithmetic): (query_id, rank, doc_id, score)."""
    jdf = _bridge(docs).bm25TopK(
        docs._jdf, _jcol(doc_id), _jcol(text),
        queries._jdf, _jcol(query_id), _jcol(query_terms), int(k), int(scale))
    return DataFrame(jdf, docs.sparkSession)


def classifier_score(df: DataFrame, text: ColumnOrName, weights: List[int],
                     bias: int = 0, threshold: int = 0,
                     bigrams: bool = True) -> DataFrame:
    """Hashing-trick linear classifier inference (256 md5-byte buckets,
    integer weights -> exact BIGINT logit): adds `logit` and `keep`."""
    jdf = _bridge(df).classifierScore(df._jdf, _jcol(text),
                                      [int(w) for w in weights],
                                      int(bias), int(threshold), bool(bigrams))
    return DataFrame(jdf, df.sparkSession)


def dsir_weight_table(target: DataFrame, raw: DataFrame,
                      target_text: ColumnOrName, raw_text: ColumnOrName,
                      bigrams: bool = True, portable_hash: bool = True) -> DataFrame:
    """DSIR importance-resampling fit (Xie et al. 2023): the 256-row
    (bucket, target_cnt, raw_cnt, weight) table of integer floor-log2
    likelihood-ratio weights over hash-bucketed token+bigram features.
    portable_hash=True buckets by the md5 first byte (engine-portable),
    False by the faster xxhash64 production bucketing — same knob as
    dsir_fit_weights, so either fit can be inspected as a table."""
    jdf = _bridge(target).dsirWeightTable(
        target._jdf, raw._jdf, _jcol(target_text), _jcol(raw_text),
        bool(bigrams), bool(portable_hash))
    return DataFrame(jdf, target.sparkSession)


def dsir_fit_weights(target: DataFrame, raw: DataFrame,
                     target_text: ColumnOrName, raw_text: ColumnOrName,
                     bigrams: bool = True, portable_hash: bool = True) -> List[int]:
    """The fitted 256-int weight vector (bounded driver collect), ready for
    dsir_score / dsir_select_top / classifier_score. portable_hash=False
    fits under the faster hash64 production bucketing — score with the
    same setting."""
    return [int(w) for w in _bridge(target).dsirFitWeights(
        target._jdf, raw._jdf, _jcol(target_text), _jcol(raw_text),
        bool(bigrams), bool(portable_hash))]


def dsir_score(df: DataFrame, text: ColumnOrName, weights: List[int],
               bigrams: bool = True, portable_hash: bool = True) -> DataFrame:
    """Adds exact-BIGINT `dsir_score` from one fused kernel pass (narrow,
    streaming-legal). Use the same portable_hash the weights were fit
    under."""
    jdf = _bridge(df).dsirScore(df._jdf, _jcol(text),
                                [int(w) for w in weights], bool(bigrams),
                                bool(portable_hash))
    return DataFrame(jdf, df.sparkSession)


def dsir_select_top(df: DataFrame, id: ColumnOrName, text: ColumnOrName,
                    weights: List[int], n: int, bigrams: bool = True,
                    portable_hash: bool = True) -> DataFrame:
    """The n most target-like documents, deterministically (score desc,
    id asc) — plans TakeOrderedAndProject, never a global sort."""
    jdf = _bridge(df).dsirSelectTop(df._jdf, _jcol(id), _jcol(text),
                                    [int(w) for w in weights], int(n),
                                    bool(bigrams), bool(portable_hash))
    return DataFrame(jdf, df.sparkSession)


def vocab_top_tokens(docs: DataFrame, text: ColumnOrName, n: int) -> DataFrame:
    """Top-n corpus tokens by occurrence, deterministic (cnt desc, token
    asc): (token, cnt) — plans TakeOrderedAndProject."""
    jdf = _bridge(docs).vocabTopTokens(docs._jdf, _jcol(text), int(n))
    return DataFrame(jdf, docs.sparkSession)


def vocab_coverage_report(docs: DataFrame, id: ColumnOrName,
                          text: ColumnOrName, vocab: List[str]) -> DataFrame:
    """Per-doc token-occurrence coverage against a term list:
    (id, n_tokens, n_in_vocab, oov_rate) — one fused broadcast-probe kernel
    pass, exchange-free."""
    jdf = _bridge(docs).vocabCoverageReport(
        docs._jdf, _jcol(id), _jcol(text), [str(t) for t in vocab])
    return DataFrame(jdf, docs.sparkSession)


def vocab_self_coverage_report(docs: DataFrame, id: ColumnOrName,
                               text: ColumnOrName, vocab_size: int) -> DataFrame:
    """Coverage against the corpus's own top-n tokens (bounded fit collect,
    then the same narrow probe)."""
    jdf = _bridge(docs).vocabSelfCoverageReport(
        docs._jdf, _jcol(id), _jcol(text), int(vocab_size))
    return DataFrame(jdf, docs.sparkSession)


def repeated_span_stats(docs: DataFrame, id: ColumnOrName, text: ColumnOrName,
                        k: int, min_count: int = 2) -> DataFrame:
    """Per-doc duplicated k-token-span report:
    (doc_id, n_tokens, dup_windows, covered_tokens)."""
    jdf = _bridge(docs).repeatedSpanStats(docs._jdf, _jcol(id), _jcol(text),
                                          int(k), int(min_count))
    return DataFrame(jdf, docs.sparkSession)


def remove_repeated_spans(docs: DataFrame, id: ColumnOrName, text: ColumnOrName,
                          k: int, min_count: int = 2,
                          keep_first: bool = False) -> DataFrame:
    """Drop tokens covered by corpus-duplicated k-token windows:
    (doc_id, clean_text, removed_tokens). keep_first=True exempts the
    canonical occurrence — smallest (doc_id, pos) — of each duplicated
    window (the keep-one rule of suffix-array training-data dedup), so a
    copy survives in its first document."""
    b = _bridge(docs)
    if keep_first:
        jdf = b.removeRepeatedSpansKeepFirst(docs._jdf, _jcol(id), _jcol(text),
                                             int(k), int(min_count))
    else:
        jdf = b.removeRepeatedSpans(docs._jdf, _jcol(id), _jcol(text),
                                    int(k), int(min_count))
    return DataFrame(jdf, docs.sparkSession)


def mixture_interleave(df: DataFrame, id: ColumnOrName, source: ColumnOrName,
                       weights: dict, seed: int, epoch: int,
                       pos_column: str = "mix_pos") -> DataFrame:
    """Deterministic weighted interleave — the data-mixture schedule: one
    global order (1..N in pos_column) in which every prefix carries each
    source in proportion to its weight (WFQ bound: within one item per
    source), each source internally shuffled by the seeded epoch hash.
    Rows whose source has no weight raise rather than mis-weight."""
    jw = {str(k): int(v) for k, v in weights.items()}
    jdf = _bridge(df).mixtureInterleave(df._jdf, _jcol(id), _jcol(source),
                                        jw, int(seed), int(epoch), pos_column)
    return DataFrame(jdf, df.sparkSession)


def top_k_per_group(df: DataFrame, group_cols: List[ColumnOrName],
                    order_cols: List[Column], k: int,
                    rank_column: str = "rank") -> DataFrame:
    """Top k rows per group, planned as a two-phase WindowGroupLimit
    (map-side partial top-k — no full per-group sort)."""
    jdf = _bridge(df).topKPerGroup(
        df._jdf, [_jcol(c) for c in group_cols],
        [_to_java_column(c) for c in order_cols], int(k), rank_column)
    return DataFrame(jdf, df.sparkSession)


def hll_sketches(df: DataFrame, group: ColumnOrName, item: ColumnOrName,
                 lg_config_k: int = 12) -> DataFrame:
    """Per-group mergeable HLL sketches as binary (group, sketch) — persist
    per day/source, union any subset later with merge_hll_sketches."""
    jdf = _bridge(df).hllSketches(df._jdf, _jcol(group), _jcol(item),
                                  int(lg_config_k))
    return DataFrame(jdf, df.sparkSession)


def merge_hll_sketches(sketches: DataFrame, group: ColumnOrName,
                       sketch: ColumnOrName = "sketch") -> DataFrame:
    """Union persisted sketches per group and read the distinct estimate:
    (group, distinct_estimate) — incremental distinct counting, no rescan."""
    jdf = _bridge(sketches).mergeHllSketches(sketches._jdf, _jcol(group),
                                             _jcol(sketch))
    return DataFrame(jdf, sketches.sparkSession)


def build_blocklist_artifact(blocklist: DataFrame, text: ColumnOrName,
                             path: str, shingle_size: int = 8) -> None:
    """Freeze a decontamination blocklist as a parquet artifact (its distinct
    hashed shingles under <path>/shingles) — build once, enforce everywhere
    with decontaminate_with_artifact."""
    _bridge(blocklist).buildBlocklistArtifact(
        blocklist._jdf, _jcol(text), str(path), int(shingle_size))


def decontaminate_with_artifact(corpus: DataFrame, text: ColumnOrName,
                                path: str, shingle_size: int = 8,
                                min_overlap: int = 1) -> DataFrame:
    """Drop contaminated docs using a persisted blocklist artifact —
    identical per-row decisions to decontaminate over the original table."""
    jdf = _bridge(corpus).decontaminateWithArtifact(
        corpus._jdf, _jcol(text), str(path), int(shingle_size),
        int(min_overlap))
    return DataFrame(jdf, corpus.sparkSession)


def quality_checks(df: DataFrame, rules) -> DataFrame:
    """Deequ-style data-quality contract gate. `rules` is a list of dicts:
    {"rule": "not_null", "column": c, "max_null_fraction": 0.0}
    {"rule": "in_range", "column": c, "min": lo, "max": hi}
    {"rule": "matches_regex", "column": c, "pattern": p, "min_match_fraction": 1.0}
    {"rule": "min_rows", "min_rows": n}
    {"rule": "unique", "column": c}
    Returns one row per rule: (rule, column, metric, threshold, pass)."""
    types, cols, p1, p2, pats = [], [], [], [], []
    for r in rules:
        t = r["rule"]
        types.append(t)
        cols.append(str(r.get("column", "")))
        pats.append(str(r.get("pattern", "")))
        if t == "not_null":
            p1.append(float(r.get("max_null_fraction", 0.0))); p2.append(0.0)
        elif t == "in_range":
            p1.append(float(r["min"])); p2.append(float(r["max"]))
        elif t == "matches_regex":
            p1.append(float(r.get("min_match_fraction", 1.0))); p2.append(0.0)
        elif t == "min_rows":
            p1.append(float(r["min_rows"])); p2.append(0.0)
        elif t == "unique":
            p1.append(0.0); p2.append(0.0)
        else:
            raise ValueError(f"unknown rule type: {t}")
    jdf = _bridge(df).runChecks(df._jdf, types, cols, p1, p2, pats)
    return DataFrame(jdf, df.sparkSession)


def key_skew_report(df: DataFrame, key: ColumnOrName, k: int = 10) -> DataFrame:
    """Top-k heaviest keys with exact counts and table share — the skew
    pre-flight before committing a join/agg key: (key, cnt, share, rank)."""
    jdf = _bridge(df).keySkewReport(df._jdf, _jcol(key), int(k))
    return DataFrame(jdf, df.sparkSession)


def frequent_items(df: DataFrame, item: ColumnOrName, min_support: float,
                   capacity: int = 4096) -> DataFrame:
    """EXACT (item, cnt) for items with frequency >= min_support; shuffle
    bounded by a mergeable Misra-Gries candidate sketch."""
    jdf = _bridge(df).frequentItems(df._jdf, _jcol(item), float(min_support),
                                    int(capacity))
    return DataFrame(jdf, df.sparkSession)


def profile_columns(df: DataFrame, columns: List[str],
                    exact_distinct: bool = True) -> DataFrame:
    """One-pass per-column profile: rows/nulls/distinct/min/max."""
    jdf = _bridge(df).profileColumns(df._jdf, list(columns), bool(exact_distinct))
    return DataFrame(jdf, df.sparkSession)


def distinct_count_gate(df: DataFrame, group: ColumnOrName, item: ColumnOrName,
                        tolerance: float = 0.05) -> DataFrame:
    """Exact per-group distinct counts + boolean HLL-estimate-in-tolerance."""
    jdf = _bridge(df).distinctCountGate(df._jdf, _jcol(group), _jcol(item),
                                        float(tolerance))
    return DataFrame(jdf, df.sparkSession)


def quantile_gate(df: DataFrame, group: ColumnOrName, value: ColumnOrName,
                  q: float, accuracy: int = 10000,
                  tolerance: float = 0.01) -> DataFrame:
    """Exact discrete per-group quantile (value at floor(q*(n-1))+1 in sort
    order) + boolean approx_percentile-sketch-in-tolerance verdict."""
    jdf = _bridge(df).quantileGate(df._jdf, _jcol(group), _jcol(value),
                                   float(q), int(accuracy), float(tolerance))
    return DataFrame(jdf, df.sparkSession)


def tfidf_terms(df: DataFrame, group: ColumnOrName, text: ColumnOrName,
                k: int, rank_column: str = "rank") -> DataFrame:
    """Top-k TF-IDF-distinctive terms per group with exact integer scoring
    (tf * floor_log2(N/df)): group_key, term, tf_docs, df_docs, score, rank."""
    jdf = _bridge(df).tfidfTerms(df._jdf, _jcol(group), _jcol(text),
                                 int(k), rank_column)
    return DataFrame(jdf, df.sparkSession)


def novelty_profile(df: DataFrame, id_col: ColumnOrName, text: ColumnOrName,
                    n: int, min_doc_freq: int = 2,
                    hashed: bool = False) -> DataFrame:
    """Per-document duplicate-text-mass profile: (id, n_grams, dup_grams,
    dup_fraction) where dup_grams counts the document's distinct word
    n-grams present in >= min_doc_freq documents (itself included).
    hashed=True keeps the exchanges to 8-byte longs (production setting)."""
    jdf = _bridge(df).noveltyProfile(df._jdf, _jcol(id_col), _jcol(text),
                                     int(n), int(min_doc_freq), bool(hashed))
    return DataFrame(jdf, df.sparkSession)


def duplicate_gram_mass(df: DataFrame, text: ColumnOrName, n: int,
                        min_doc_freq: int = 2,
                        hashed: bool = False) -> DataFrame:
    """One-row corpus duplicate-mass report over word n-grams:
    gram_occurrences, distinct_grams, dup_occurrences, distinct_dup_grams,
    dup_mass_fraction — decides whether a span-dedup pass is worth running."""
    jdf = _bridge(df).duplicateGramMass(df._jdf, _jcol(text), int(n),
                                        int(min_doc_freq), bool(hashed))
    return DataFrame(jdf, df.sparkSession)


def top_fraction_per_group(df: DataFrame, group_cols: List[ColumnOrName],
                           order_cols: List[Column], fraction: float,
                           rank_column: str = "rank") -> DataFrame:
    """Adaptive per-group cut: keep each group's top ceil(fraction * n) rows
    by order_cols (pass Column orderings like col('score').desc(); make the
    order total with a tie-break column). Every non-empty group keeps at
    least one row; one exchange on the group key serves both the rank and
    the group count."""
    jdf = _bridge(df).topFractionPerGroup(
        df._jdf, [_jcol(c) for c in group_cols],
        [_jcol(c) for c in order_cols], float(fraction), rank_column)
    return DataFrame(jdf, df.sparkSession)


def approx_top_fraction_per_group(df: DataFrame,
                                  group_cols: List[ColumnOrName],
                                  score: ColumnOrName, fraction: float,
                                  accuracy: int = 10000) -> DataFrame:
    """The 100 TB shape of top_fraction_per_group: per-group score threshold
    from one mergeable percentile_approx aggregate (|groups|-row broadcast),
    then a narrow score >= threshold filter — no corpus sort, no window.
    Approximate only at the cut boundary (sketch rank error + threshold
    ties); every non-empty group keeps at least one row."""
    jdf = _bridge(df).approxTopFractionPerGroup(
        df._jdf, [_jcol(c) for c in group_cols], _jcol(score),
        float(fraction), int(accuracy))
    return DataFrame(jdf, df.sparkSession)


def sample_k_per_group(df: DataFrame, group_cols: List[ColumnOrName],
                       key: ColumnOrName, k: int, salt: str = "graft",
                       rank_column: str = "sample_rank") -> DataFrame:
    """Deterministic exact-k per-group draw: the k rows whose md5(salt||key)
    sorts lowest; planned as a map-side WindowGroupLimit top-k."""
    jdf = _bridge(df).sampleKPerGroup(
        df._jdf, [_jcol(c) for c in group_cols], _jcol(key), int(k),
        salt, rank_column)
    return DataFrame(jdf, df.sparkSession)


def token_budget_sample(df: DataFrame, strata: ColumnOrName,
                        key: ColumnOrName, weight: ColumnOrName,
                        budget: int, salt: str = "graft") -> DataFrame:
    """Token-budget domain mixing: down-sample each stratum to ~budget
    expected weight (rate min(1, budget/total)); under-budget strata are
    kept whole. Deterministic md5-threshold keep decisions."""
    jdf = _bridge(df).tokenBudgetSample(df._jdf, _jcol(strata), _jcol(key),
                                        _jcol(weight), int(budget), salt)
    return DataFrame(jdf, df.sparkSession)


def near_dup_pairs_minhash_against(corpus: DataFrame, reference: DataFrame,
                                   id: ColumnOrName, text: ColumnOrName,
                                   shingle_size: int = 3, bands: int = 16,
                                   rows_per_band: int = 8,
                                   threshold: float = 0.8) -> DataFrame:
    """Cross-corpus near-dup pairs (idA from corpus, idB from reference,
    jaccard): band-bucket equi-join candidates, exact-Jaccard verified."""
    jdf = _bridge(corpus).nearDupPairsMinHashAgainst(
        corpus._jdf, reference._jdf, _jcol(id), _jcol(text),
        int(shingle_size), int(bands), int(rows_per_band), float(threshold))
    return DataFrame(jdf, corpus.sparkSession)


def deduplicate_against(corpus: DataFrame, reference: DataFrame,
                        id: ColumnOrName, text: ColumnOrName,
                        shingle_size: int = 3, bands: int = 16,
                        rows_per_band: int = 8,
                        threshold: float = 0.8) -> DataFrame:
    """Drop corpus docs near-duplicating any reference doc (batch ingest
    against an already-clean corpus); the reference side is untouched."""
    jdf = _bridge(corpus).deduplicateAgainst(
        corpus._jdf, reference._jdf, _jcol(id), _jcol(text),
        int(shingle_size), int(bands), int(rows_per_band), float(threshold))
    return DataFrame(jdf, corpus.sparkSession)


def save_dedup_index(df: DataFrame, id: ColumnOrName, text: ColumnOrName,
                     path: str, shingle_size: int = 3, bands: int = 16,
                     rows_per_band: int = 8,
                     max_bucket_size: int = 1000) -> None:
    """Persist a MinHash dedup index (shingle sets + pruned band buckets +
    params) for incremental cross-corpus dedup: the reference corpus is
    shingled ONCE here instead of on every ingest batch."""
    _bridge(df).saveDedupIndex(df._jdf, _jcol(id), _jcol(text), path,
                               int(shingle_size), int(bands),
                               int(rows_per_band), int(max_bucket_size))


def append_to_dedup_index(df: DataFrame, id: ColumnOrName,
                          text: ColumnOrName, path: str) -> None:
    """Append a batch (typically just-deduped survivors) to an existing
    dedup index; banding comes from the saved params. Buckets hot only
    across batches are re-pruned at query time."""
    _bridge(df).appendToDedupIndex(df._jdf, _jcol(id), _jcol(text), path)


def near_dup_pairs_against_index(corpus: DataFrame, id: ColumnOrName,
                                 text: ColumnOrName, path: str,
                                 threshold: float = 0.8,
                                 max_bucket_size: int = 1000) -> DataFrame:
    """(idA, idB, jaccard) of the increment against a saved dedup index;
    banding comes from the index, reference text is never read."""
    jdf = _bridge(corpus).nearDupPairsAgainstIndex(
        corpus._jdf, _jcol(id), _jcol(text), path, float(threshold),
        int(max_bucket_size))
    return DataFrame(jdf, corpus.sparkSession)


def deduplicate_against_index(corpus: DataFrame, id: ColumnOrName,
                              text: ColumnOrName, path: str,
                              threshold: float = 0.8,
                              max_bucket_size: int = 1000) -> DataFrame:
    """Drop increment docs near-duplicating any indexed document."""
    jdf = _bridge(corpus).deduplicateAgainstIndex(
        corpus._jdf, _jcol(id), _jcol(text), path, float(threshold),
        int(max_bucket_size))
    return DataFrame(jdf, corpus.sparkSession)


def deflate_length(text: ColumnOrName, level: int = 6) -> Column:
    """DEFLATE byte length of a string/binary column (compression-ratio
    boilerplate signal) -> int."""
    return _col_fn("deflateLength", _jcol(text), int(level))


def with_running_total(df: DataFrame, value: ColumnOrName, order: List[Column],
                       output_column: str = "running_total",
                       exclusive: bool = True) -> DataFrame:
    """Global prefix sum over a total order, three-phase plan (no
    single-partition window). Sums in the value column's own numeric type
    (integral -> long, double -> double, decimal -> widened decimal)."""
    jdf = _bridge(df).withRunningTotal(
        df._jdf, _jcol(value), [_to_java_column(c) for c in order],
        output_column, bool(exclusive))
    return DataFrame(jdf, df.sparkSession)


def pack_sequences(df: DataFrame, tokens: ColumnOrName, order: List[Column],
                   capacity: int) -> DataFrame:
    """Assign seq_id/seq_offset in the fixed-capacity packed token stream."""
    jdf = _bridge(df).packSequences(
        df._jdf, _jcol(tokens), [_to_java_column(c) for c in order], int(capacity))
    return DataFrame(jdf, df.sparkSession)


def weighted_hash_sample(df: DataFrame, key: ColumnOrName,
                         weight: ColumnOrName, rate: float,
                         salt: str = "graft") -> DataFrame:
    """Deterministic importance sampling: keep probability min(1, rate*w),
    decided by the key hash — reproducible across partitionings/engines."""
    jdf = _bridge(df).weightedHashSample(df._jdf, _jcol(key), _jcol(weight),
                                         float(rate), salt)
    return DataFrame(jdf, df.sparkSession)


def edit_distance1_pairs(df: DataFrame, id: ColumnOrName,
                         s: ColumnOrName) -> DataFrame:
    """All (idA, idB, dist) pairs within edit distance 1 via FastSS
    deletion-neighborhood blocking — hash join on signatures, never a
    cross join; exact levenshtein verify."""
    jdf = _bridge(df).editDistance1Pairs(df._jdf, _jcol(id), _jcol(s))
    return DataFrame(jdf, df.sparkSession)


def zorder_by(df: DataFrame, columns: List[str], partitions: int = 0,
              bits_per_column: int = 0) -> DataFrame:
    """Re-layout along the Morton curve of 2-4 numeric columns: written files
    then carry tight min/max stats on ALL z-columns (multi-column skipping).
    bits_per_column=0 (default) auto-sizes lanes to min(16, 63 // n_columns);
    an explicit width must satisfy bits_per_column * n_columns <= 63."""
    jdf = _bridge(df).zorderBy(df._jdf, list(columns), int(partitions),
                               int(bits_per_column))
    return DataFrame(jdf, df.sparkSession)


def drop_exact_payload_duplicates(df: DataFrame, id: ColumnOrName,
                                  payload: ColumnOrName) -> DataFrame:
    """Exact media-payload dedup: keep the smallest id per byte-identical
    payload. The decision shuffle carries (md5, id) rows only — payload
    bytes never enter an exchange."""
    jdf = _bridge(df).dropExactPayloadDuplicates(df._jdf, _jcol(id), _jcol(payload))
    return DataFrame(jdf, df.sparkSession)


def extract_media_features(df: DataFrame, id: ColumnOrName,
                           bin: ColumnOrName) -> DataFrame:
    """Batched image metadata extraction: (id, n_bytes, entropy, format,
    width, height) per binary payload. Format/dimensions come from a real
    pure-JVM container-header parse (PNG/JPEG/GIF/BMP) — null for
    unrecognized payloads; no pixel decode, no media libraries."""
    jdf = _bridge(df).extractMediaFeatures(df._jdf, _jcol(id), _jcol(bin))
    return DataFrame(jdf, df.sparkSession)


def sample_frames(df: DataFrame, id: ColumnOrName, bin: ColumnOrName,
                  k: int = 4) -> DataFrame:
    """Uniform frame-sampling plan per video: k frame indices spaced evenly
    across the container-declared frame count, each with its timestamp —
    (id, frame_idx, ts_ms) rows, one per frame a decoder stage would fetch.
    Exact integer arithmetic from the real MP4/AVI header; narrow plan, no
    shuffle. Videos without a stated frame count produce no rows."""
    jdf = _bridge(df).sampleFrames(df._jdf, _jcol(id), _jcol(bin), int(k))
    return DataFrame(jdf, df.sparkSession)


def extract_audio_features(df: DataFrame, id: ColumnOrName,
                           bin: ColumnOrName) -> DataFrame:
    """Batched audio metadata extraction: (id, n_bytes, channels,
    sample_rate, bits_per_sample, n_frames) from RIFF/WAVE headers — null
    PCM facts for non-WAV payloads."""
    jdf = _bridge(df).extractAudioFeatures(df._jdf, _jcol(id), _jcol(bin))
    return DataFrame(jdf, df.sparkSession)


def lm_score_bits(docs: DataFrame, id_column: str, text: ColumnOrName,
                  lm_docs: DataFrame = None, lm_text: ColumnOrName = None,
                  unseen_bits: int = 20) -> DataFrame:
    """Quantized bigram-LM scoring: (id, n_bigrams, sum_bits, avg_bits) with
    integer-exact bits; pass lm_docs/lm_text to score against another corpus."""
    jdf = _bridge(docs).lmScoreBits(
        docs._jdf, id_column, _jcol(text),
        None if lm_docs is None else lm_docs._jdf,
        None if lm_text is None else _jcol(lm_text),
        int(unseen_bits))
    return DataFrame(jdf, docs.sparkSession)


def save_ann_index(corpus: DataFrame, corpus_id: ColumnOrName,
                   corpus_vec: ColumnOrName, ivf, index, path: str,
                   residual: bool = False) -> None:
    """Persist the full IVFADC serving state (quantizers + encoded corpus +
    raw vectors, params last): the write-once table ivf_pq_top_k_indexed
    scans instead of re-encoding the corpus on every query batch."""
    _bridge(corpus).saveAnnIndex(corpus._jdf, _jcol(corpus_id),
                                 _jcol(corpus_vec), ivf, index, path,
                                 bool(residual))


def ivf_pq_top_k_indexed(queries: DataFrame, query_id: ColumnOrName,
                         query_vec: ColumnOrName, path: str, k: int,
                         nprobe: int = 2, refine: int = 8) -> DataFrame:
    """The composed IVFADC query against a persisted index — identical
    results to ivf_pq_top_k with the same quantizers; corpus never
    re-encoded. Returns (query_id, rank, neighbor_id, cosine)."""
    jdf = _bridge(queries).ivfPqTopKIndexed(
        queries._jdf, _jcol(query_id), _jcol(query_vec), path,
        int(k), int(nprobe), int(refine))
    return DataFrame(jdf, queries.sparkSession)


def append_to_ann_index(batch: DataFrame, id: ColumnOrName,
                        vec: ColumnOrName, path: str) -> None:
    """Append a vector batch to an index saved by save_ann_index: the batch
    is encoded against the SAVED quantizers (codebooks fixed at save time,
    so config mismatch cannot happen) and parquet-appended to the encoded
    corpus and raw-vector tables. Queries afterwards equal a fresh save
    over the union corpus."""
    _bridge(batch).appendToAnnIndex(batch._jdf, _jcol(id), _jcol(vec), str(path))


def repeat_to_token_budget(df: DataFrame, domain: ColumnOrName,
                           n_tokens: ColumnOrName, key: ColumnOrName,
                           shares: dict, budget: int,
                           max_epochs: int = 4, salt: str = "graft") -> DataFrame:
    """Epoch-aware repetition to a token budget — the up-sampling step a
    filter cannot take: domain d gets floor(share_d*budget/T_d) full passes
    (capped at max_epochs; an added `epoch` column numbers the copies) plus
    one fractional epoch via the md5-threshold draw, so expected emitted
    token mass per domain equals its target share of the budget."""
    jdf = _bridge(df).repeatToTokenBudget(
        df._jdf, _jcol(domain), _jcol(n_tokens), _jcol(key),
        {str(k): float(v) for k, v in shares.items()},
        int(budget), int(max_epochs), salt)
    return DataFrame(jdf, df.sparkSession)


def train_ivf(corpus: DataFrame, id: ColumnOrName, vec: ColumnOrName,
              k: int, iterations: int = 5):
    """Train an IVF coarse quantizer (deterministic Lloyd's). Returns an
    opaque index handle for ivf_assign / semantic_dup_pairs."""
    return _bridge(corpus).trainIvf(corpus._jdf, _jcol(id), _jcol(vec),
                                    int(k), int(iterations))


def embedding_outliers(corpus: DataFrame, id: ColumnOrName,
                       vec: ColumnOrName, ivf, quantile: float) -> DataFrame:
    """Embedding outlier filter (the SemDeDup complement: too FAR from its
    cluster instead of too close): flags the bottom `quantile` of each
    trained cluster by cosine-to-centroid -> (id, cid, cos_fp,
    cluster_rank, is_outlier); fixed-point key + integer cutoff make the
    flags engine-exact."""
    jdf = _bridge(corpus).embeddingOutliers(
        corpus._jdf, _jcol(id), _jcol(vec), ivf, float(quantile))
    return DataFrame(jdf, corpus.sparkSession)


def save_ivf(spark, index, path: str) -> None:
    """Persist a trained IVF quantizer as a (cid, centroid) parquet table —
    train once on a sample, reuse across runs and streaming restarts."""
    _bridge(spark.range(1)).saveIvf(spark._jsparkSession, index, str(path))


def load_ivf(spark, path: str):
    """Load a quantizer persisted by save_ivf (opaque index handle)."""
    return _bridge(spark.range(1)).loadIvf(spark._jsparkSession, str(path))


def save_pq(spark, index, path: str) -> None:
    """Persist trained PQ codebooks as a (subspace, code, centroid) parquet
    table so later ingests encode against the same codes."""
    _bridge(spark.range(1)).savePq(spark._jsparkSession, index, str(path))


def load_pq(spark, path: str):
    """Load codebooks persisted by save_pq (opaque index handle)."""
    return _bridge(spark.range(1)).loadPq(spark._jsparkSession, str(path))


def ivf_assign(corpus: DataFrame, id: ColumnOrName, vec: ColumnOrName,
               index) -> DataFrame:
    """Cluster assignment against a trained quantizer: (id, cid) — the
    embedding-space corpus map, a narrow kernel pass (no shuffle)."""
    jdf = _bridge(corpus).ivfAssign(corpus._jdf, _jcol(id), _jcol(vec), index)
    return DataFrame(jdf, corpus.sparkSession)


def semantic_dup_pairs(corpus: DataFrame, id: ColumnOrName, vec: ColumnOrName,
                       index, threshold: float,
                       max_cluster_size: int = 10000) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs: (idA, idB) with both in
    the same quantizer cluster and exact cosine >= threshold; clusters above
    max_cluster_size are pruned before pairing."""
    jdf = _bridge(corpus).semanticDupPairs(
        corpus._jdf, _jcol(id), _jcol(vec), index,
        float(threshold), int(max_cluster_size))
    return DataFrame(jdf, corpus.sparkSession)


def deduplicate_semantic(corpus: DataFrame, id: ColumnOrName,
                         vec: ColumnOrName, index, threshold: float,
                         max_cluster_size: int = 10000) -> DataFrame:
    """End-to-end semantic dedup: keep the smallest id of every duplicated
    pair (the library-wide keep-first convention)."""
    jdf = _bridge(corpus).deduplicateSemantic(
        corpus._jdf, _jcol(id), _jcol(vec), index,
        float(threshold), int(max_cluster_size))
    return DataFrame(jdf, corpus.sparkSession)


def rrf_fuse(lists, k: int, k0: int = 60, scale: int = 1000000) -> DataFrame:
    """Reciprocal-rank fusion of ranked lists (query_id, doc_id, rank):
    (query_id, rank, doc_id, rrf_scaled) with exact integer contributions
    scale // (k0 + rank) summed as BIGINT."""
    if not lists:
        raise ValueError("rrf_fuse needs at least one ranked list")
    first = lists[0]
    gw = first.sparkSession._jvm  # type: ignore[union-attr]
    jlist = gw.java.util.ArrayList()
    for df in lists:
        jlist.add(df._jdf)
    jdf = _bridge(first).rrfFuse(jlist, int(k), int(k0), int(scale))
    return DataFrame(jdf, first.sparkSession)


def corpus_drift(before: DataFrame, after: DataFrame, group: ColumnOrName,
                 text: ColumnOrName) -> DataFrame:
    """Per-group drift between two corpus snapshots: one fused-kernel
    aggregate per side, full-outer joined on the group with zero-coalesce —
    (group, n_docs_before/after/delta, n_tokens_before/after/delta,
    stopword_ratio_before/after), all counts exact BIGINTs."""
    jdf = _bridge(before).corpusDrift(before._jdf, after._jdf,
                                      _jcol(group), _jcol(text))
    return DataFrame(jdf, before.sparkSession)


def contamination_report(corpus: DataFrame, id_col: ColumnOrName,
                         text: ColumnOrName, blocklist: DataFrame,
                         blocklist_text: ColumnOrName,
                         shingle_size: int = 8) -> DataFrame:
    """Per-doc contamination severity vs a broadcast blocklist shingle set:
    (id, n_shingles, n_overlap, contamination) — zero shuffles, the score
    survives instead of becoming a drop decision."""
    jdf = _bridge(corpus).contaminationReport(
        corpus._jdf, _jcol(id_col), _jcol(text),
        blocklist._jdf, _jcol(blocklist_text), int(shingle_size))
    return DataFrame(jdf, corpus.sparkSession)


def deduplicate_semantic_keep_diverse(corpus: DataFrame, id: ColumnOrName,
                                      vec: ColumnOrName, index,
                                      threshold: float,
                                      max_cluster_size: int = 10000) -> DataFrame:
    """SemDeDup's paper keep policy: duplicate pairs close into transitive
    components and each component keeps the member FARTHEST from its
    cluster centroid (diversity-preserving), ties to the smallest id."""
    jdf = _bridge(corpus).deduplicateSemanticKeepDiverse(
        corpus._jdf, _jcol(id), _jcol(vec), index,
        float(threshold), int(max_cluster_size))
    return DataFrame(jdf, corpus.sparkSession)


def compact_parquet(spark, input_dir: str, output_dir: str,
                    target_file_bytes: int = 128 * 1024 * 1024,
                    shuffle: bool = True) -> int:
    """Compact a parquet directory's small files into ~target-sized files
    (count from the directory's own footer metadata). Returns the number of
    files written."""
    return _bridge(spark).compactParquet(
        spark._jsparkSession, input_dir, output_dir,
        int(target_file_bytes), bool(shuffle))


def band_collision_probability(j: float, bands: int, rows_per_band: int) -> float:
    """Candidate probability of a pair at Jaccard j under (bands,
    rows_per_band) MinHash banding: 1 - (1 - j^r)^b. Pure closed-form
    replica of graft.dedup.BandPlan.collisionProbability (driver-side math,
    no JVM round-trip)."""
    if not 0.0 <= j <= 1.0:
        raise ValueError(f"jaccard must be in [0, 1]: {j}")
    if bands < 1 or rows_per_band < 1:
        raise ValueError(f"need bands, rows >= 1: {bands}, {rows_per_band}")
    return 1.0 - (1.0 - j ** float(rows_per_band)) ** float(bands)


def band_threshold(bands: int, rows_per_band: int) -> float:
    """The banding S-curve waterline (1/b)^(1/r) — the Jaccard where
    candidate probability crosses ~1 - 1/e."""
    if bands < 1 or rows_per_band < 1:
        raise ValueError(f"need bands, rows >= 1: {bands}, {rows_per_band}")
    return (1.0 / float(bands)) ** (1.0 / float(rows_per_band))


def plan_bands(n_hashes: int, target_jaccard: float):
    """Choose (bands, rows_per_band) with bands*rows == n_hashes whose
    waterline sits closest below-or-at the target (banding false negatives
    are unrecoverable; false candidates only cost verify work). Returns a
    dict with bands/rows_per_band/threshold/recall_at_target/
    candidate_rate_at_half_target — same selection rule as
    graft.dedup.BandPlan.planBands."""
    if n_hashes < 2:
        raise ValueError(f"need at least 2 hashes: {n_hashes}")
    if not 0.0 < target_jaccard < 1.0:
        raise ValueError(f"target must be in (0, 1): {target_jaccard}")
    plans = []
    for r in range(1, n_hashes + 1):
        if n_hashes % r:
            continue
        b = n_hashes // r
        plans.append({
            "bands": b, "rows_per_band": r,
            "threshold": band_threshold(b, r),
            "recall_at_target": band_collision_probability(target_jaccard, b, r),
            "candidate_rate_at_half_target":
                band_collision_probability(target_jaccard * 0.5, b, r),
        })
    under = [p for p in plans if p["threshold"] <= target_jaccard]
    pool = under or plans
    return min(pool, key=lambda p: (abs(p["threshold"] - target_jaccard),
                                    -p["recall_at_target"]))


def train_rotation(corpus: DataFrame, vec: ColumnOrName, dim: int, m: int,
                   center: bool = False):
    """Learn the OPQ-lite orthonormal rotation (PCA + eigenvalue allocation,
    Ge et al. 2013 parametric variant): one bounded moments-sketch pass over
    the corpus, driver-side Jacobi eigendecomposition, principal dims
    permuted so each of the m PQ subspaces carries ~equal variance.
    Returns an opaque rotation handle."""
    return _bridge(corpus).trainRotation(corpus._jdf, _jcol(vec),
                                         int(dim), int(m), bool(center))


def rotate_vec(vec: ColumnOrName, rotation) -> Column:
    """Apply a trained rotation inline (narrow codegen'd kernel): norms and
    pairwise cosines are preserved exactly up to float rounding."""
    return _col_fn("rotateVec", _jcol(vec), rotation)


def train_pq_rotated(corpus: DataFrame, id: ColumnOrName, vec: ColumnOrName,
                     rotation, dim: int, m: int, ksub: int,
                     iterations: int = 3):
    """Train a PQ on the ROTATED corpus — same deterministic Lloyd's as
    train_pq, better-conditioned input. Returns an opaque index handle."""
    return _bridge(corpus).trainPqRotated(corpus._jdf, _jcol(id), _jcol(vec),
                                          rotation, int(dim), int(m),
                                          int(ksub), int(iterations))


def pq_top_k_rotated(queries: DataFrame, corpus: DataFrame,
                     query_id: ColumnOrName, query_vec: ColumnOrName,
                     corpus_id: ColumnOrName, corpus_vec: ColumnOrName,
                     rotation, index, k: int, refine: int = 8) -> DataFrame:
    """Rotated-PQ approximate top-k with exact re-rank: both sides rotate
    inline, then the plan is pq_top_k. (query_id, rank, neighbor_id,
    cosine) with cosine exact in the ORIGINAL space (R is orthonormal)."""
    jdf = _bridge(queries).pqTopKRotated(
        queries._jdf, corpus._jdf, _jcol(query_id), _jcol(query_vec),
        _jcol(corpus_id), _jcol(corpus_vec), rotation, index,
        int(k), int(refine))
    return DataFrame(jdf, queries.sparkSession)


def save_rotation(spark, rotation, path: str) -> None:
    """Persist a trained rotation as a (r, row) parquet table."""
    _bridge(spark.range(1)).saveRotation(spark._jsparkSession, rotation,
                                         str(path))


def load_rotation(spark, path: str):
    """Load a rotation persisted by save_rotation (opaque handle)."""
    return _bridge(spark.range(1)).loadRotation(spark._jsparkSession,
                                                str(path))


def hilbert_order_by(df: DataFrame, columns: List[str], partitions: int = 0,
                     bits_per_column: int = 0) -> DataFrame:
    """Re-layout along the Hilbert curve of 2-4 numeric columns — the
    locality-tightened sibling of zorder_by (consecutive curve indices are
    unit grid steps, so equal runs of sorted keys stay inside compact
    hyper-rectangles and per-file min/max stats get tighter)."""
    jdf = _bridge(df).hilbertOrderBy(df._jdf, list(columns), int(partitions),
                                     int(bits_per_column))
    return DataFrame(jdf, df.sparkSession)


def cms_sketch(key: ColumnOrName, depth: int, width: int) -> Column:
    """Count-min sketch aggregate over a string key column: one depth*width
    long buffer per task, map-side combined — approximate frequencies for
    EVERY key at corpus-size-independent communication cost. md5-bucketed,
    so any engine replays the counters exactly."""
    return _col_fn("cmsSketch", _jcol(key), int(depth), int(width))


def cms_estimate(sketch: ColumnOrName, key: ColumnOrName, depth: int,
                 width: int) -> Column:
    """Point query against a cms_sketch column (broadcast the one-row sketch
    onto the key stream first): true_count <= estimate <= true_count +
    (e/width) * N with probability 1 - e^-depth."""
    return _col_fn("cmsEstimate", _jcol(sketch), _jcol(key), int(depth),
                   int(width))


def write_bloom_index(spark, dir: str, column: str, log_bits: int = 20,
                      k: int = 5) -> None:
    """Build a per-file Bloom sidecar over an equality-lookup column: one
    grouped-aggregate scan, a fixed 2^log_bits-bit buffer per file, written
    to an underscore-prefixed directory plain reads ignore."""
    _bridge(spark.range(1)).writeBloomIndex(spark._jsparkSession, str(dir),
                                            str(column), int(log_bits), int(k))


def bloom_pruning_report(spark, dir: str, column: str,
                         values: List[str]) -> DataFrame:
    """Per-file pruning decision for an IN-list probe: (file, keep) — keep
    iff any probe value might be present (no false negatives)."""
    jdf = _bridge(spark.range(1)).bloomPruningReport(
        spark._jsparkSession, str(dir), str(column),
        [str(v) for v in values])
    return DataFrame(jdf, spark)


def bloom_pruned_parquet(spark, dir: str, column: str,
                         values: List[str]) -> DataFrame:
    """IN-list read through the sidecar: scan only surviving files, then
    re-apply the real predicate — identical rows to the plain filtered
    read, a fraction of the IO."""
    jdf = _bridge(spark.range(1)).bloomPrunedParquet(
        spark._jsparkSession, str(dir), str(column),
        [str(v) for v in values])
    return DataFrame(jdf, spark)


def write_with_manifest(df: DataFrame, dir: str) -> None:
    """Write parquet plus a per-file manifest sidecar (row count +
    order-insensitive XOR content fingerprint), computed from the files
    that actually landed."""
    _bridge(df).writeWithManifest(df._jdf, str(dir))


def verify_manifest(spark, dir: str) -> DataFrame:
    """Per-file verification of a snapshot against its manifest: (file,
    rows_expected, rows_actual, fp_expected, fp_actual, ok) — missing,
    extra, truncated, or corrupted files each flip ok on their row."""
    jdf = _bridge(spark.range(1)).verifyManifest(spark._jsparkSession, str(dir))
    return DataFrame(jdf, spark)


def verify_manifest_summary(spark, dir: str) -> DataFrame:
    """One-row go/no-go: (files, total_rows, all_ok)."""
    jdf = _bridge(spark.range(1)).verifyManifestSummary(spark._jsparkSession,
                                                        str(dir))
    return DataFrame(jdf, spark)


def _jstrlist(spark, items):
    jlist = spark._jvm.java.util.ArrayList()
    for x in items:
        jlist.add(str(x))
    return jlist


def write_partitioned_with_manifest(df: DataFrame, dir: str,
                                    partition_cols) -> None:
    """Hive-partitioned parquet write plus the manifest sidecar — the
    incremental-snapshot-diff-ready format."""
    _bridge(df).writePartitionedWithManifest(
        df._jdf, str(dir), _jstrlist(df.sparkSession, partition_cols))


def partition_manifest_summary(spark, dir: str, partition_cols) -> DataFrame:
    """Per-partition (partition_cols..., rows, fingerprint) rolled up from
    the manifest sidecar alone — KB of IO at any snapshot size."""
    jdf = _bridge(spark.range(1)).partitionManifestSummary(
        spark._jsparkSession, str(dir), _jstrlist(spark, partition_cols))
    return DataFrame(jdf, spark)


def snapshot_changed_partitions(spark, left_dir: str, right_dir: str,
                                partition_cols) -> DataFrame:
    """Partition-level change report between two manifest'd snapshots:
    (partition_cols..., status, rows_left, rows_right), status in
    added|removed|changed|unchanged — computed from the manifests only."""
    jdf = _bridge(spark.range(1)).snapshotChangedPartitions(
        spark._jsparkSession, str(left_dir), str(right_dir),
        _jstrlist(spark, partition_cols))
    return DataFrame(jdf, spark)


def diff_snapshots(spark, left_dir: str, right_dir: str, id_columns,
                   partition_cols,
                   max_changed_partitions: int = 10000) -> DataFrame:
    """Row-level diff of two partitioned snapshots reading ONLY changed
    partitions (manifest-driven detection when both sides carry a
    _manifest, else one fingerprint scan per side; static partition
    pruning)."""
    jdf = _bridge(spark.range(1)).diffSnapshots(
        spark._jsparkSession, str(left_dir), str(right_dir),
        _jstrlist(spark, id_columns), _jstrlist(spark, partition_cols),
        int(max_changed_partitions))
    return DataFrame(jdf, spark)


def history_from_snapshots(snapshots: DataFrame, version_col: str,
                           id_cols, attr_cols=None) -> DataFrame:
    """SCD2 history build from a stack of snapshots: one row per (id,
    contiguous run of versions with identical attributes) carrying
    valid_from, valid_to (EXCLUSIVE; null = current) and is_current.
    Attribute comparison is null-safe; a delete + re-insert yields two
    runs even with identical attributes."""
    spark = snapshots.sparkSession
    jdf = _bridge(snapshots).historyFromSnapshots(
        snapshots._jdf, str(version_col), _jstrlist(spark, id_cols),
        _jstrlist(spark, attr_cols if attr_cols is not None else []))
    return DataFrame(jdf, spark)


def history_snapshot_at(history: DataFrame, version, version_col: str) -> DataFrame:
    """Reconstruct the snapshot at `version` from a history table (rows
    with valid_from <= version < valid_to), restoring `version_col` —
    the exact inverse of history_from_snapshots for any input version.
    Accepts int/str/date/datetime versions (routed through lit())."""
    from pyspark.sql.functions import lit as _lit
    jdf = _bridge(history).historySnapshotAt(
        history._jdf, _jcol(_lit(version)), str(version_col))
    return DataFrame(jdf, history.sparkSession)


def mine_hard_negatives(corpus: DataFrame, doc_id: ColumnOrName,
                        text: ColumnOrName, queries: DataFrame,
                        query_id: ColumnOrName, query_terms: ColumnOrName,
                        positives: DataFrame, pos_query_id: ColumnOrName,
                        pos_doc_id: ColumnOrName, k: int,
                        candidate_factor: int = 2) -> DataFrame:
    """Hard negatives for retriever/embedding training: per query, the BM25
    top-(k*candidate_factor) corpus docs that are NOT known positives,
    re-ranked 1..k -> (query_id, neg_rank, doc_id, score)."""
    jdf = _bridge(corpus).mineHardNegatives(
        corpus._jdf, _jcol(doc_id), _jcol(text), queries._jdf,
        _jcol(query_id), _jcol(query_terms), positives._jdf,
        _jcol(pos_query_id), _jcol(pos_doc_id), int(k), int(candidate_factor))
    return DataFrame(jdf, corpus.sparkSession)


def overlap_matrix(df: DataFrame, group: ColumnOrName, value: ColumnOrName,
                   k: int, max_groups: int = 1024) -> DataFrame:
    """Pairwise KMV overlap matrix across the groups of one corpus (which
    sources feed me the same documents?): one grouped bottom-k pass, then
    coordinated-sample Jaccard estimates for every group pair ->
    (group_a, group_b, k_used, n_both, j_estimate); exact when a pair's
    union fits in k."""
    jdf = _bridge(df).overlapMatrix(df._jdf, _jcol(group), _jcol(value),
                                    int(k), int(max_groups))
    return DataFrame(jdf, df.sparkSession)


def explain_near_dup_pairs(docs: DataFrame, id: ColumnOrName,
                           text: ColumnOrName, pairs: DataFrame,
                           pair_id_a: ColumnOrName, pair_id_b: ColumnOrName,
                           k: int = 3) -> DataFrame:
    """Matched-span evidence behind flagged near-dup pairs: k-token window
    hash matches merged along diagonals into maximal runs -> (id_a, id_b,
    a_start, a_end, b_start, b_end, match_tokens). Only reviewed docs are
    scanned (semi-join before the shingle kernel)."""
    jdf = _bridge(docs).explainPairs(
        docs._jdf, _jcol(id), _jcol(text), pairs._jdf,
        _jcol(pair_id_a), _jcol(pair_id_b), int(k))
    return DataFrame(jdf, docs.sparkSession)


def compact_in_place(spark, dir: str, target_file_bytes: int = 134217728,
                     cluster_cols=None) -> DataFrame:
    """In-place small-file compaction of a flat parquet dir preserving an
    optional clustering; fresh files land before old ones are deleted (no
    crash interleaving loses a row). Returns (part, files_before,
    files_after)."""
    jdf = _bridge(spark.range(1)).compactInPlace(
        spark._jsparkSession, str(dir), int(target_file_bytes),
        _jstrlist(spark, cluster_cols if cluster_cols is not None else []))
    return DataFrame(jdf, spark)


def compact_ann_index(spark, path: str,
                      target_file_bytes: int = 134217728) -> DataFrame:
    """Compact a persisted ANN index after many appends: enc/ re-clusters
    on cid, vectors/ round-robin, quantizers untouched — queries identical
    before and after."""
    jdf = _bridge(spark.range(1)).compactAnnIndex(
        spark._jsparkSession, str(path), int(target_file_bytes))
    return DataFrame(jdf, spark)


def compact_dedup_index(spark, path: str,
                        target_file_bytes: int = 134217728) -> DataFrame:
    """Compact a persisted MinHash dedup index after many appends:
    buckets/ re-clusters on (band, bucket), shingles/ round-robin."""
    jdf = _bridge(spark.range(1)).compactDedupIndex(
        spark._jsparkSession, str(path), int(target_file_bytes))
    return DataFrame(jdf, spark)


def scrub_parquet_by_id(spark, dir: str, id_column: str, doomed: DataFrame,
                        doomed_id: ColumnOrName,
                        max_touched_files: int = 100000) -> DataFrame:
    """Deletion propagation primitive: remove every row of the flat parquet
    dir whose id_column appears in `doomed`, rewriting ONLY the files that
    contain such a row (untouched files keep bytes, names and mtimes).
    Returns a one-row stats frame (files_total, files_rewritten,
    rows_deleted, rows_rewritten, new_files)."""
    jdf = _bridge(doomed).scrubParquetById(
        spark._jsparkSession, str(dir), str(id_column), doomed._jdf,
        _jcol(doomed_id), int(max_touched_files))
    return DataFrame(jdf, spark)


def scrub_dedup_index(spark, path: str, doomed: DataFrame,
                      doomed_id: ColumnOrName,
                      max_touched_files: int = 100000) -> DataFrame:
    """Propagate deletions into a persisted MinHash dedup index (shingles/
    + buckets/; params untouched) — queries then equal an index built on
    the filtered reference."""
    jdf = _bridge(doomed).scrubDedupIndex(
        spark._jsparkSession, str(path), doomed._jdf, _jcol(doomed_id),
        int(max_touched_files))
    return DataFrame(jdf, spark)


def scrub_ann_index(spark, path: str, doomed: DataFrame,
                    doomed_id: ColumnOrName,
                    max_touched_files: int = 100000) -> DataFrame:
    """Propagate deletions into a persisted ANN serving index (enc/ +
    vectors/; quantizers untouched) — queries then equal an index saved on
    the filtered corpus with the same quantizers."""
    jdf = _bridge(doomed).scrubAnnIndex(
        spark._jsparkSession, str(path), doomed._jdf, _jcol(doomed_id),
        int(max_touched_files))
    return DataFrame(jdf, spark)


def mine_aligned_pairs(left: DataFrame, left_id: ColumnOrName,
                       left_vec: ColumnOrName, right: DataFrame,
                       right_id: ColumnOrName, right_vec: ColumnOrName,
                       k: int, min_margin: float = 1.0) -> DataFrame:
    """Margin-based aligned-pair mining over two embedded corpora (the
    bitext-mining criterion): mutual best match by ratio-margin-normalized
    cosine above min_margin -> (left_id, right_id, cosine, margin)."""
    jdf = _bridge(left).mineAlignedPairs(
        left._jdf, _jcol(left_id), _jcol(left_vec), right._jdf,
        _jcol(right_id), _jcol(right_vec), int(k), float(min_margin))
    return DataFrame(jdf, left.sparkSession)


def aligned_pairs_from_neighbors(forward: DataFrame, backward: DataFrame,
                                 k: int, min_margin: float = 1.0) -> DataFrame:
    """The margin algebra over precomputed (query_id, rank, neighbor_id,
    cosine) neighbor tables from ANY ANN tier — the 100 TB path: plug the
    served IVF/PQ index's top-k instead of brute force."""
    jdf = _bridge(forward).alignedPairsFromNeighbors(
        forward._jdf, backward._jdf, int(k), float(min_margin))
    return DataFrame(jdf, forward.sparkSession)


def domain_edges(df: DataFrame, page_url: ColumnOrName,
                 outlink_url: ColumnOrName) -> DataFrame:
    """Distinct registrable-domain edge list (src, dst) from (page URL,
    outlink URL) rows; self-links and unparsable hosts dropped."""
    jdf = _bridge(df).domainEdges(df._jdf, _jcol(page_url), _jcol(outlink_url))
    return DataFrame(jdf, df.sparkSession)


def link_rank(edges: DataFrame, src: ColumnOrName, dst: ColumnOrName,
              iterations: int = 3, damp_num: int = 85, damp_den: int = 100,
              scale: int = 1000000000000) -> DataFrame:
    """Fixed-point-integer PageRank over an edge table -> (node, rank_fp,
    rank). Deterministic by construction: every step is integer arithmetic
    on scale-scaled longs, so any engine replaying the documented
    recurrence reproduces each rank bit-for-bit."""
    jdf = _bridge(edges).linkRank(edges._jdf, _jcol(src), _jcol(dst),
                                  int(iterations), int(damp_num),
                                  int(damp_den), int(scale))
    return DataFrame(jdf, edges.sparkSession)


def k_anonymity_report(df: DataFrame, quasi_cols, k: int) -> DataFrame:
    """One row per quasi-identifier combination: (quasi_cols..., combo_rows,
    k_anonymous). Exact GROUP BY census — the privacy step regex PII
    redaction cannot cover (re-identification lives in combinations)."""
    jdf = _bridge(df).kAnonymityReport(
        df._jdf, _jstrlist(df.sparkSession, quasi_cols), int(k))
    return DataFrame(jdf, df.sparkSession)


def l_diversity_report(df: DataFrame, quasi_cols, sensitive: ColumnOrName,
                       l: int) -> DataFrame:
    """Distinct-l diversity per combo: (quasi_cols..., combo_rows,
    distinct_sensitive, l_diverse)."""
    jdf = _bridge(df).lDiversityReport(
        df._jdf, _jstrlist(df.sparkSession, quasi_cols), _jcol(sensitive),
        int(l))
    return DataFrame(jdf, df.sparkSession)


def suppress_rare_rows(df: DataFrame, quasi_cols, k: int) -> DataFrame:
    """The safe-to-train channel: rows whose quasi combo occurs >= k times
    (one window-count exchange, no join). Original schema."""
    jdf = _bridge(df).suppressRareRows(
        df._jdf, _jstrlist(df.sparkSession, quasi_cols), int(k))
    return DataFrame(jdf, df.sparkSession)


def rare_rows(df: DataFrame, quasi_cols, k: int) -> DataFrame:
    """The suppressed complement of suppress_rare_rows — the channel a
    privacy reviewer inspects (the quarantine-twin contract)."""
    jdf = _bridge(df).rareRows(
        df._jdf, _jstrlist(df.sparkSession, quasi_cols), int(k))
    return DataFrame(jdf, df.sparkSession)


def streaming_token_counts_by_window(stream: DataFrame, text: ColumnOrName,
                                     event_time_column: str,
                                     window_duration: str,
                                     watermark_delay: str,
                                     vocab, oov_bucket: str = "<oov>") -> DataFrame:
    """Streaming drift front half: windowed token counts BUCKETED to the
    bounded vocab (everything else collapses into oov_bucket), so state is
    <= len(vocab)+1 rows per open window no matter the stream ->
    (window, token, cnt), append-mode legal."""
    jdf = _bridge(stream).streamingTokenCountsByWindow(
        stream._jdf, _jcol(text), str(event_time_column),
        str(window_duration), str(watermark_delay),
        _jstrlist(stream.sparkSession, vocab), str(oov_bucket))
    return DataFrame(jdf, stream.sparkSession)


def total_variation_by_window(counts: DataFrame, window_cols,
                              reference: DataFrame) -> DataFrame:
    """Exact total-variation drift per window vs a fixed (token, cnt)
    reference: tv_scaled = sum |c_i*M - r_i*N| as exact BIGINT, tv the one
    final IEEE division -> (window_cols..., n_tokens, ref_tokens,
    tv_scaled, tv)."""
    jdf = _bridge(counts).totalVariationByWindow(
        counts._jdf, _jstrlist(counts.sparkSession, window_cols),
        reference._jdf)
    return DataFrame(jdf, counts.sparkSession)


def train_unigram(corpus: DataFrame, text: ColumnOrName, vocab_size: int,
                  max_piece_len: int = 10, seed_size: int = 4096,
                  em_iterations: int = 2, max_words: int = 1 << 20,
                  min_freq: int = 1):
    """Learn a unigram-LM tokenizer (the SentencePiece default family;
    Viterbi globally-best segmentation) from the corpus's ascii
    word-frequency table — the deterministic fixed-point variant: hard-EM
    with exact integer log2 scores, so training replays bit-for-bit in any
    engine. Returns an opaque model handle."""
    return _bridge(corpus).unigramTrain(
        corpus._jdf, _jcol(text), int(vocab_size), int(max_piece_len),
        int(seed_size), int(em_iterations), int(max_words), int(min_freq))


def unigram_encode(text: ColumnOrName, model) -> Column:
    """Globally-best (Viterbi) piece stream (array<string>) of the
    ascii-tokenized text; a char absent from the vocab segments as itself
    at the fixed penalty. One narrow kernel pass, streaming-legal."""
    return _col_fn("unigramEncode", _jcol(text), model)


def unigram_token_count(text: ColumnOrName, model) -> Column:
    """Piece count per row — the token-budget / packing input."""
    return _col_fn("unigramTokenCount", _jcol(text), model)


def save_unigram(spark: SparkSession, model, path: str) -> None:
    """Persist the (piece, score) table as a tiny parquet table."""
    _bridge(spark.range(1)).saveUnigram(spark._jsparkSession, model, str(path))


def load_unigram(spark: SparkSession, path: str):
    """Load a model persisted by save_unigram (opaque model handle)."""
    return _bridge(spark.range(1)).loadUnigram(spark._jsparkSession, str(path))


def warc_records(bytes_col: ColumnOrName) -> Column:
    """Binary WARC/WET shard bytes (gz or plain) -> array of record structs
    (warc_type, target_uri, warc_date, content_length, payload). One narrow
    kernel pass; gzip members decompress in-kernel."""
    return _col_fn("warcRecords", _jcol(bytes_col))


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Read WARC/WET shards (Common Crawl layout) under path: one row per
    record -> (file, record_idx, warc_type, target_uri, warc_date,
    content_length, payload). Shards parse in executor tasks via the
    binaryFile source; the driver only lists files."""
    jdf = _bridge(spark.range(1)).readWarc(spark._jsparkSession, str(path))
    return DataFrame(jdf, spark)


def redact_valid_cards(text: ColumnOrName, token: str = "[CARD]") -> Column:
    """Replace Luhn-valid 13..19-digit card runs (digit groups joined by
    single spaces or dashes) with token; checksum-failing digit runs —
    order ids, timestamps, ISBNs — pass through untouched. One codegen'd
    byte-level pass."""
    return _col_fn("redactValidCards", _jcol(text), str(token))


def valid_card_count(text: ColumnOrName) -> Column:
    """Number of Luhn-valid card runs in text (same scan as
    redact_valid_cards) -> long."""
    return _col_fn("validCardCount", _jcol(text))


def soundex4(text: ColumnOrName) -> Column:
    """4-char American Soundex phonetic code ('0000' when the text has no
    ASCII letter) — the classic record-linkage blocking key."""
    return _col_fn("soundex4", _jcol(text))


def jaro_winkler_fp(a: ColumnOrName, b: ColumnOrName) -> Column:
    """floor(jaro_winkler(a, b) * 2**20) computed in exact integer
    arithmetic (greedy Jaro matching over code points, Winkler prefix
    boost p=0.1 capped at 4) — the accept/reject threshold replays
    bit-for-bit on any engine."""
    return _col_fn("jaroWinklerFp", _jcol(a), _jcol(b))


def link_records(left: DataFrame, right: DataFrame,
                 id_left: ColumnOrName, name_left: ColumnOrName,
                 id_right: ColumnOrName, name_right: ColumnOrName,
                 min_score_fp: int = int(0.92 * (1 << 20)),
                 max_block_pairs: int = 10_000_000,
                 extra_block_left: Optional[Sequence[ColumnOrName]] = None,
                 extra_block_right: Optional[Sequence[ColumnOrName]] = None) -> DataFrame:
    """Record linkage: soundex-blocked candidates verified with exact
    fixed-point Jaro-Winkler -> (id_a, id_b, score_fp). Fails fast when
    the largest block would yield more than max_block_pairs candidate
    pairs (an inadequate blocking key, not a compute problem) — compose
    extra_block_left/extra_block_right (positionally paired columns) into
    the block key to split a degenerate phonetic block."""
    gw = left.sparkSession._jvm  # type: ignore[union-attr]
    jl, jr = gw.java.util.ArrayList(), gw.java.util.ArrayList()
    for c in (extra_block_left or []):
        jl.add(_jcol(c))
    for c in (extra_block_right or []):
        jr.add(_jcol(c))
    b = _bridge(left)
    jdf = b.linkRecords(left._jdf, right._jdf, _jcol(id_left), _jcol(name_left),
                        _jcol(id_right), _jcol(name_right),
                        int(min_score_fp), int(max_block_pairs),
                        jl, jr)
    return DataFrame(jdf, left.sparkSession)


def foreign_key_check(df: DataFrame, column: str,
                      ref: DataFrame, ref_column: str) -> DataFrame:
    """Referential-integrity audit: one (rule, column, metric, threshold,
    pass) row where metric = count of df rows whose non-null column value
    has no partner in ref.ref_column (one column-pruned anti join; the
    reference is never collected)."""
    jdf = _bridge(df).foreignKeyCheck(df._jdf, str(column), ref._jdf, str(ref_column))
    return DataFrame(jdf, df.sparkSession)


def chat_parse_turns(text: ColumnOrName) -> Column:
    """Parse a one-turn-per-line 'role: content' transcript (role in
    system/user/assistant/tool) -> array<struct<role, content>>; a line
    with no role prefix keeps role '' (the invalid marker)."""
    return _col_fn("chatParseTurns", _jcol(text))


def chat_stats(df: DataFrame, id: ColumnOrName, text: ColumnOrName) -> DataFrame:
    """Per-conversation format audit -> (id, n_turns, n_user, n_assistant,
    n_invalid, alternation_ok); alternation_ok is the strict SFT contract
    (leading system only, strict user/assistant alternation, no tool or
    malformed lines)."""
    jdf = _bridge(df).chatStats(df._jdf, _jcol(id), _jcol(text))
    return DataFrame(jdf, df.sparkSession)


def chat_explode_turns(df: DataFrame, id: ColumnOrName,
                       text: ColumnOrName) -> DataFrame:
    """One row per (conversation, turn): (id, turn_idx, role, content,
    n_tokens) with n_tokens = whitespace-separated pieces."""
    jdf = _bridge(df).chatExplodeTurns(df._jdf, _jcol(id), _jcol(text))
    return DataFrame(jdf, df.sparkSession)


def chat_truncate_to_budget(df: DataFrame, id: ColumnOrName,
                            text: ColumnOrName, budget: int) -> DataFrame:
    """Context-window trimming: keep the LAST turns whose token total fits
    budget, never splitting a turn, leading system turn always pinned
    (charged first) -> one row per turn (id, turn_idx, role, n_tokens,
    kept)."""
    jdf = _bridge(df).chatTruncateToBudget(df._jdf, _jcol(id), _jcol(text),
                                           int(budget))
    return DataFrame(jdf, df.sparkSession)


def chat_parse_messages(json: ColumnOrName) -> Column:
    """Parse a JSON '{"messages": [{"role": ..., "content": ...}]}'
    document (the real SFT/RLHF wire format -- content may embed
    newlines) -> array<struct<role, content>>. Malformed JSON, a
    missing/empty messages array, an unknown role, or a null content all
    surface as role-'' invalid turns; nothing is silently dropped."""
    return _col_fn("chatParseMessages", _jcol(json))


def chat_stats_messages(df: DataFrame, id: ColumnOrName,
                        json: ColumnOrName) -> DataFrame:
    """chat_stats over the MESSAGES format -- same audit columns; a
    malformed document reads as one invalid turn."""
    jdf = _bridge(df).chatStatsMessages(df._jdf, _jcol(id), _jcol(json))
    return DataFrame(jdf, df.sparkSession)


def chat_explode_messages(df: DataFrame, id: ColumnOrName,
                          json: ColumnOrName) -> DataFrame:
    """chat_explode_turns over the MESSAGES format: one row per message
    with the same (id, turn_idx, role, content, n_tokens) schema."""
    jdf = _bridge(df).chatExplodeMessages(df._jdf, _jcol(id), _jcol(json))
    return DataFrame(jdf, df.sparkSession)


def chat_truncate_messages_to_budget(df: DataFrame, id: ColumnOrName,
                                     json: ColumnOrName,
                                     budget: int) -> DataFrame:
    """chat_truncate_to_budget over the MESSAGES format -- same
    keep-last suffix algebra, same system-turn pin."""
    jdf = _bridge(df).chatTruncateMessagesToBudget(df._jdf, _jcol(id),
                                                   _jcol(json), int(budget))
    return DataFrame(jdf, df.sparkSession)


def tokenizer_fertility(docs: DataFrame, group: ColumnOrName,
                        text: ColumnOrName,
                        counters: Dict[str, Column]) -> DataFrame:
    """Per-group tokenizer fertility report -> (group, n_docs, n_chars,
    <name>_tokens ...): exact BIGINT token sums under each supplied
    per-row count column (e.g. byte_bpe_token_count(text, model)); one
    map-side-combined pass. Rates are downstream divisions."""
    gw = docs.sparkSession._jvm  # type: ignore[union-attr]
    names, cols = gw.java.util.ArrayList(), gw.java.util.ArrayList()
    for n, c in counters.items():
        names.add(str(n))
        cols.add(_jcol(c))
    jdf = _bridge(docs).tokenizerFertility(docs._jdf, _jcol(group),
                                           _jcol(text), names, cols)
    return DataFrame(jdf, docs.sparkSession)


def chat_rebuild_transcript(df: DataFrame, id: ColumnOrName,
                            text: ColumnOrName, budget: int) -> DataFrame:
    """Apply the trim and reassemble the surviving conversation in the
    LINE wire format -> (id, trimmed_text); kept turns re-join as
    'role: content' in order, invalid lines re-emit raw. A conversation
    with no kept turn is absent."""
    jdf = _bridge(df).chatRebuildTranscript(df._jdf, _jcol(id), _jcol(text),
                                            int(budget))
    return DataFrame(jdf, df.sparkSession)


def chat_rebuild_messages(df: DataFrame, id: ColumnOrName,
                          json: ColumnOrName, budget: int) -> DataFrame:
    """chat_rebuild_transcript for the MESSAGES format -> (id,
    messages_json): kept turns re-serialized as a '{"messages": [...]}'
    document that chat_parse_messages round-trips, newlines included."""
    jdf = _bridge(df).chatRebuildMessages(df._jdf, _jcol(id), _jcol(json),
                                          int(budget))
    return DataFrame(jdf, df.sparkSession)


def funnel_times(events: DataFrame, user: ColumnOrName, ts_us: ColumnOrName,
                 event_type: ColumnOrName, steps: List[str],
                 window_us: int = (1 << 62),
                 per_step_window: bool = False) -> DataFrame:
    """Per-user funnel reach -> (user_id, depth, first_step_us,
    last_step_us): step i+1 needs an event strictly after step i within
    window_us of the FIRST step (exact integer micros). Pass
    per_step_window=True to anchor the window at the PREVIOUS step
    instead (the product-analytics default)."""
    jdf = _bridge(events).funnelTimes(events._jdf, _jcol(user), _jcol(ts_us),
                                      _jcol(event_type), list(map(str, steps)),
                                      int(window_us), bool(per_step_window))
    return DataFrame(jdf, events.sparkSession)


def funnel_report(events: DataFrame, user: ColumnOrName, ts_us: ColumnOrName,
                  event_type: ColumnOrName, steps: List[str],
                  window_us: int = (1 << 62),
                  per_step_window: bool = False) -> DataFrame:
    """Step-level conversion table -> (step_idx, step, users) with exact
    BIGINT user counts per reached step (zeros included)."""
    jdf = _bridge(events).funnelReport(events._jdf, _jcol(user), _jcol(ts_us),
                                       _jcol(event_type), list(map(str, steps)),
                                       int(window_us), bool(per_step_window))
    return DataFrame(jdf, events.sparkSession)


def funnel_step_times(events: DataFrame, user: ColumnOrName,
                      ts_us: ColumnOrName, event_type: ColumnOrName,
                      steps: List[str], window_us: int = (1 << 62),
                      per_step_window: bool = False) -> DataFrame:
    """Per-user step times in LONG format -> (user_id, step_idx, step,
    t_us), one row per reached step — the raw material for
    time-to-convert analysis."""
    jdf = _bridge(events).funnelStepTimes(events._jdf, _jcol(user),
                                          _jcol(ts_us), _jcol(event_type),
                                          list(map(str, steps)),
                                          int(window_us),
                                          bool(per_step_window))
    return DataFrame(jdf, events.sparkSession)


def funnel_lags(events: DataFrame, user: ColumnOrName, ts_us: ColumnOrName,
                event_type: ColumnOrName, steps: List[str],
                window_us: int = (1 << 62),
                per_step_window: bool = False) -> DataFrame:
    """Time-to-convert report -> (step_idx, step, users, min_lag_us,
    max_lag_us, sum_lag_us): exact BIGINT lag bounds from the PREVIOUS
    step per reached step (step 1 lags are 0 by definition; mean is
    sum/users downstream)."""
    jdf = _bridge(events).funnelLags(events._jdf, _jcol(user), _jcol(ts_us),
                                     _jcol(event_type),
                                     list(map(str, steps)), int(window_us),
                                     bool(per_step_window))
    return DataFrame(jdf, events.sparkSession)


def retention_cohorts(events: DataFrame, user: ColumnOrName,
                      ts_us: ColumnOrName, period_us: int) -> DataFrame:
    """Retention triangle -> (cohort_period, period_offset, users): cohort
    = integer-DIV period of each user's first event; cells count distinct
    users active offset periods later."""
    jdf = _bridge(events).retentionCohorts(events._jdf, _jcol(user),
                                           _jcol(ts_us), int(period_us))
    return DataFrame(jdf, events.sparkSession)


def transition_matrix(events: DataFrame, user: ColumnOrName,
                      ts_us: ColumnOrName, event_id: ColumnOrName,
                      event_type: ColumnOrName) -> DataFrame:
    """Markov transition counts over per-user event sequences ordered by
    (ts_us, event_id) -> (from_type, to_type, transitions); a user's last
    event contributes no pair."""
    jdf = _bridge(events).transitionMatrix(events._jdf, _jcol(user),
                                           _jcol(ts_us), _jcol(event_id),
                                           _jcol(event_type))
    return DataFrame(jdf, events.sparkSession)


def transition_matrix_excluded(events: DataFrame, user: ColumnOrName,
                               ts_us: ColumnOrName,
                               event_id: ColumnOrName) -> DataFrame:
    """The observability companion of transition_matrix's exclusion rule
    -> one row (excluded_rows, total_rows): how many event rows carried a
    null user/timestamp/tiebreak id and so contributed no transition."""
    jdf = _bridge(events).transitionMatrixExcluded(
        events._jdf, _jcol(user), _jcol(ts_us), _jcol(event_id))
    return DataFrame(jdf, events.sparkSession)


def retention_cohorts_approx(events: DataFrame, user: ColumnOrName,
                             ts_us: ColumnOrName, period_us: int,
                             lg_config_k: int = 12) -> DataFrame:
    """The 100 TB tier of retention_cohorts -> (cohort_period,
    period_offset, users_estimate): distinct users per cell estimated with
    a mergeable HLL sketch aggregate (map-side combined, ~±2%) instead of
    the exact two-phase distinct shuffle."""
    jdf = _bridge(events).retentionCohortsApprox(
        events._jdf, _jcol(user), _jcol(ts_us), int(period_us),
        int(lg_config_k))
    return DataFrame(jdf, events.sparkSession)


def streaming_funnel_progress(stream: DataFrame, user: ColumnOrName,
                              event_time_column: str,
                              event_type: ColumnOrName, steps: List[str],
                              window_us: int = (1 << 62),
                              per_step_window: bool = False,
                              watermark_delay: str = "0 seconds") -> DataFrame:
    """Streaming funnel -> append-mode (user_id, depth, step, t_us) depth
    transitions: k longs of state per user, greedy event-time-ordered
    chain equal to the batch funnel on in-order feeds; completed chains
    stay in state (one min-anchored chain per user), watermark-evicted
    past anchor + window."""
    jdf = _bridge(stream).streamingFunnelProgress(
        stream._jdf, _jcol(user), str(event_time_column), _jcol(event_type),
        list(map(str, steps)), int(window_us), bool(per_step_window),
        str(watermark_delay))
    return DataFrame(jdf, stream.sparkSession)


def chat_render_template(text: ColumnOrName, end_marker: str = "<|end|>",
                         invalid_marker: str = "<|invalid|>") -> Column:
    """Render a per-line transcript in the control-token chat template:
    every turn becomes <|role|>content<|end|> (unparseable turns keep
    their raw line under <|invalid|>), concatenated in turn order — the
    SFT step between the wire format and the tokenizer."""
    return _col_fn("chatRenderTemplate", _jcol(text), str(end_marker),
                   str(invalid_marker))


def chat_render_messages_template(json: ColumnOrName,
                                  end_marker: str = "<|end|>",
                                  invalid_marker: str = "<|invalid|>") -> Column:
    """chat_render_template over the MESSAGES wire format."""
    return _col_fn("chatRenderMessagesTemplate", _jcol(json),
                   str(end_marker), str(invalid_marker))


def chat_template_specials(end_marker: str = "<|end|>",
                           invalid_marker: str = "<|invalid|>"):
    """The template's reserved control tokens, in the order
    byte_bpe_encode_ids_special expects."""
    sc = SparkContext._active_spark_context
    return list(_bridge(sc).chatTemplateSpecials(str(end_marker),
                                                 str(invalid_marker)))


def chat_template(role_markers: Optional[Dict[str, str]] = None,
                  invalid_marker: str = "<|invalid|>",
                  end_marker: str = "<|end|>", bos: str = "", eos: str = "",
                  scrub_contents: bool = False,
                  default_system: Optional[str] = None):
    """Build a per-model chat-template spec (opaque handle): role-marker
    map (defaults to <|role|>), end/invalid markers, optional BOS/EOS
    bracketing, optional system-prompt folding (default_system renders as
    a leading system turn when the data has none). Its reserved specials
    derive FROM the spec (see template_specials_of), so renderer and id
    space cannot drift. scrub_contents=True strips '<+|+' runs from turn
    CONTENTS inside the renderer — the one-call injection guard (requires
    a '<|' marker alphabet)."""
    sc = SparkContext._active_spark_context
    if role_markers is None:
        role_markers = {r: f"<|{r}|>"
                        for r in ("system", "user", "assistant", "tool")}
    jmap = sc._jvm.java.util.HashMap()  # type: ignore[union-attr]
    for k, v in role_markers.items():
        jmap.put(str(k), str(v))
    return _bridge(sc).chatTemplate(
        jmap, str(invalid_marker), str(end_marker), str(bos), str(eos),
        bool(scrub_contents),
        None if default_system is None else str(default_system))


def chat_template_chatml():
    """The ChatML-style preset: <|im_start|>role\\n ... <|im_end|>\\n per
    turn, <|endoftext|> EOS, contents scrubbed by default."""
    sc = SparkContext._active_spark_context
    return _bridge(sc).chatTemplateChatMl()


def template_specials_of(template):
    """The reserved control tokens a template spec implies, in the order
    byte_bpe_encode_ids_special expects."""
    sc = SparkContext._active_spark_context
    return list(_bridge(sc).chatTemplateSpecialsOf(template))


def chat_render_template_spec(text: ColumnOrName, template) -> Column:
    """Render a per-line transcript under a chat_template spec."""
    return _col_fn("chatRenderTemplateSpec", _jcol(text), template)


def chat_render_messages_template_spec(json: ColumnOrName,
                                       template) -> Column:
    """chat_render_template_spec over the MESSAGES wire format."""
    return _col_fn("chatRenderMessagesTemplateSpec", _jcol(json), template)


def tokenizer(model, specials) -> object:
    """Bundle a byte-BPE model with its reserved specials (opaque handle):
    the full id space is 0..255 bytes, 256..255+num_merges merges, then
    one reserved id per special."""
    sc = SparkContext._active_spark_context
    return _bridge(sc).tokenizer(model, _speclist(specials))


def save_tokenizer(spark: SparkSession, tok, path: str) -> None:
    """Persist merges + complete-id-space vocab + specials + params as ONE
    directory (params last — a half-finished save fails loudly at load)."""
    _bridge(spark.range(1)).saveTokenizer(spark._jsparkSession, tok,
                                          str(path))


def load_tokenizer(spark: SparkSession, path: str):
    """Load a tokenizer artifact saved by save_tokenizer; load cross-checks
    every piece count against the params row."""
    return _bridge(spark.range(1)).loadTokenizer(spark._jsparkSession,
                                                 str(path))


def save_tokenizer_with_fertility(spark: SparkSession, tok, path: str,
                                  fertility: DataFrame) -> None:
    """save_tokenizer bundling the training-corpus fertility report as
    provenance (loaded back with load_tokenizer_fertility)."""
    _bridge(spark.range(1)).saveTokenizerWithFertility(
        spark._jsparkSession, tok, str(path), fertility._jdf)


def load_tokenizer_fertility(spark: SparkSession,
                             path: str) -> Optional[DataFrame]:
    """The bundled fertility report, or None when the artifact has none."""
    jdf = _bridge(spark.range(1)).loadTokenizerFertility(
        spark._jsparkSession, str(path))
    return None if jdf is None else DataFrame(jdf, spark)


def tokenizer_encode_ids(tok, text: ColumnOrName) -> Column:
    """text -> ids in the tokenizer's specials-aware id space."""
    return _col_fn("tokenizerEncodeIds", tok, _jcol(text))


def tokenizer_decode_ids(tok, ids: ColumnOrName) -> Column:
    """Exact inverse of tokenizer_encode_ids."""
    return _col_fn("tokenizerDecodeIds", tok, _jcol(ids))


def tokenizer_token_count(tok, text: ColumnOrName) -> Column:
    """Token count in the tokenizer's units — the budget/packing input."""
    return _col_fn("tokenizerTokenCount", tok, _jcol(text))


def tokenizer_vocab_size(tok) -> int:
    """The FULL id space including reserved specials."""
    sc = SparkContext._active_spark_context
    return int(_bridge(sc).tokenizerVocabSize(tok))


def tokenizer_specials(tok):
    """The tokenizer's reserved specials in id order."""
    sc = SparkContext._active_spark_context
    return list(_bridge(sc).tokenizerSpecials(tok))


def save_shards(df: DataFrame, ids: ColumnOrName, order, capacity: int,
                sep_id: int, path: str, tokenizer=None,
                target_file_bytes: int = 128 * 1024 * 1024) -> int:
    """Pack token-ID streams and persist the full training-shard artifact:
    sized seq_id-range-clustered parquet + manifest + optional bundled
    tokenizer + params (written last). Returns the number of sequences."""
    spark = df.sparkSession
    jorder = spark._jvm.java.util.ArrayList()  # type: ignore[union-attr]
    for c in order:
        jorder.add(_jcol(c))
    return int(_bridge(df).saveShards(df._jdf, _jcol(ids), jorder,
                                      int(capacity), int(sep_id), str(path),
                                      tokenizer, int(target_file_bytes)))


class ShardSet:
    """A loaded shard artifact: .data (DataFrame), .capacity, .sep_id,
    .n_sequences, .total_ids, .tokenizer (opaque handle or None)."""

    def __init__(self, spark: SparkSession, jshards):
        bridge = _bridge(spark.range(1))
        self.data = DataFrame(bridge.shardSetData(jshards), spark)
        self.capacity = int(bridge.shardSetCapacity(jshards))
        self.sep_id = int(bridge.shardSetSepId(jshards))
        self.n_sequences = int(bridge.shardSetNSequences(jshards))
        self.total_ids = int(bridge.shardSetTotalIds(jshards))
        self.tokenizer = bridge.shardSetTokenizer(jshards)


def append_shards(df: DataFrame, ids: ColumnOrName, order,
                  path: str) -> int:
    """Append a new batch to a saved shard artifact — byte-identical to a
    one-shot save over old ++ new when `order` sorts the batch after every
    already-packed document. The old partial last sequence fills first
    (its file rewrites under a crash-safe swap). Returns the new sequence
    count."""
    spark = df.sparkSession
    jorder = spark._jvm.java.util.ArrayList()  # type: ignore[union-attr]
    for c in order:
        jorder.add(_jcol(c))
    return int(_bridge(df).appendShards(df._jdf, _jcol(ids), jorder,
                                        str(path)))


def load_shards(spark: SparkSession, path: str) -> ShardSet:
    """Load an artifact saved by save_shards (fails loudly when the save
    never completed)."""
    return ShardSet(spark,
                    _bridge(spark.range(1)).loadShards(spark._jsparkSession,
                                                       str(path)))


def verify_shards(spark: SparkSession, path: str) -> DataFrame:
    """One-row certification: (files, total_rows, manifest_ok,
    n_sequences, dense_ok, sized_ok, all_ok)."""
    jdf = _bridge(spark.range(1)).verifyShards(spark._jsparkSession,
                                               str(path))
    return DataFrame(jdf, spark)


def unpack_shards(spark: SparkSession, path: str,
                  max_sequences: int = 1 << 22) -> DataFrame:
    """Shard QA from disk: load and re-split into (doc_idx, ids) under the
    max_sequences budget guard."""
    jdf = _bridge(spark.range(1)).unpackShards(spark._jsparkSession,
                                               str(path),
                                               int(max_sequences))
    return DataFrame(jdf, spark)


def unpack_shards_range(spark: SparkSession, path: str, from_seq: int,
                        until_seq: int) -> DataFrame:
    """Sampled shard QA from disk: decode only sequences [from_seq,
    until_seq) of a saved artifact -> (doc_idx, ids) of the documents
    COMPLETE inside. The seq_id range predicate prunes at the parquet scan
    (files are range-clustered on seq_id), so shard k reads k's files."""
    jdf = _bridge(spark.range(1)).unpackShardsRange(
        spark._jsparkSession, str(path), int(from_seq), int(until_seq))
    return DataFrame(jdf, spark)


def doc_boundaries(packed: DataFrame, sep_id: int) -> DataFrame:
    """Per-sequence document-boundary metadata -> (seq_id, doc_starts:
    array<int>): the sorted offsets where a document BEGINS inside each
    sequence (the varlen-attention cu_seqlens side table — position-id
    resets / block-diagonal masks without scanning ids at step time).
    Derived from the packed ids alone, so it works on shards loaded back
    from disk."""
    jdf = _bridge(packed).docBoundaries(packed._jdf, int(sep_id))
    return DataFrame(jdf, packed.sparkSession)


def sft_loss_mask(ids: ColumnOrName, vocab_size: int, template=None,
                  train_roles=("assistant",),
                  train_end_marker: bool = True) -> Column:
    """Per-token SFT loss mask (0/1, same length as ids) over the rendered
    + special-encoded id stream: 1 exactly on trainable-turn CONTENT
    tokens plus (by default) the end marker CLOSING such a turn; role
    markers, BOS/EOS and non-trainable turns mask 0. vocab_size is the
    tokenizer's base size, the same arithmetic the special codec uses."""
    sc = SparkContext._active_spark_context
    if template is None:
        template = _bridge(sc).chatTemplateDefault()
    jroles = sc._jvm.java.util.ArrayList()  # type: ignore[union-attr]
    for r in train_roles:
        jroles.add(str(r))
    return _col_fn("sftLossMask", _jcol(ids), int(vocab_size), template,
                   jroles, bool(train_end_marker))


def shard_batch(batch: DataFrame, batch_id: int, ids: ColumnOrName, order,
                capacity: int, sep_id: int, path: str, tokenizer=None,
                target_file_bytes: int = 128 * 1024 * 1024) -> None:
    """One micro-batch of the streaming shard sink — compose with
    pyspark's foreachBatch: the first non-empty batch bootstraps a fresh
    artifact, later batches append at start_offset = total_ids, and each
    applied batch_id commits inside the artifact's own atomic params
    write, so a redelivered batch (batch_id <= shards_last_batch_id)
    skips instead of silently double-appending. Batches must arrive
    order-monotone for stream == one-shot content equality."""
    spark = batch.sparkSession
    jorder = spark._jvm.java.util.ArrayList()  # type: ignore[union-attr]
    for c in order:
        jorder.add(_jcol(c))
    _bridge(batch).shardBatch(batch._jdf, int(batch_id), _jcol(ids), jorder,
                              int(capacity), int(sep_id), str(path),
                              tokenizer, int(target_file_bytes))


def shards_last_batch_id(spark: SparkSession, path: str) -> int:
    """The last streaming micro-batch id applied to the artifact (-1 when
    none) — the shard_batch idempotence marker."""
    return int(_bridge(spark.range(1)).shardsLastBatchId(
        spark._jsparkSession, str(path)))


def pack_token_ids_with_mask(df: DataFrame, ids: ColumnOrName,
                             mask: ColumnOrName, order, capacity: int,
                             sep_id: int) -> DataFrame:
    """pack_token_ids with an ALIGNED per-token loss mask -> (seq_id, ids,
    mask, n_docs): each (id, mask) pair travels as one fused int id*2+mask
    through the standard pack, so drift is structurally impossible; the
    separator masks 0. The SFT-shard shape a chat trainer consumes."""
    spark = df.sparkSession
    jorder = spark._jvm.java.util.ArrayList()  # type: ignore[union-attr]
    for c in order:
        jorder.add(_jcol(c))
    jdf = _bridge(df).packTokenIdsWithMask(df._jdf, _jcol(ids), _jcol(mask),
                                           jorder, int(capacity),
                                           int(sep_id))
    return DataFrame(jdf, spark)


def unpack_token_ids_with_mask(packed: DataFrame, capacity: int,
                               sep_id: int) -> DataFrame:
    """Inverse of pack_token_ids_with_mask for shard QA -> (doc_idx, ids,
    mask)."""
    jdf = _bridge(packed).unpackTokenIdsWithMask(packed._jdf, int(capacity),
                                                 int(sep_id))
    return DataFrame(jdf, packed.sparkSession)


def k_center_select(df: DataFrame, id: ColumnOrName, vec: ColumnOrName,
                    k: int) -> DataFrame:
    """Diversity coreset: k-center greedy (farthest-first) over the
    int8-quantized embedding space -> (rank, id, d2) with the exact
    integer radius curve. Distances are integer squared-L2 on codes
    (angular spread — magnitude-free), so the selection is
    bit-reproducible. O(k) narrow passes; k <= 4096."""
    jdf = _bridge(df).kCenterSelect(df._jdf, _jcol(id), _jcol(vec), int(k))
    return DataFrame(jdf, df.sparkSession)


def top_paths(events: DataFrame, user: ColumnOrName, ts_us: ColumnOrName,
              event_id: ColumnOrName, etype: ColumnOrName,
              max_steps: int = 5, k: int = 20) -> DataFrame:
    """Top user paths -> (path, users): each user's first max_steps events
    in (ts, event_id) total order join into one 'a > b > c' journey; the
    k most common paths, ties by path ascending (deterministic). The
    sankey/path-analysis view generalizing transition_matrix."""
    jdf = _bridge(events).topPaths(events._jdf, _jcol(user), _jcol(ts_us),
                                   _jcol(event_id), _jcol(etype),
                                   int(max_steps), int(k))
    return DataFrame(jdf, events.sparkSession)


def token_provenance(df: DataFrame, tokens: ColumnOrName, order,
                     capacity: int, source: ColumnOrName) -> DataFrame:
    """Per-sequence token provenance -> (seq_id, source, n_ids): how many
    of each sequence's ids come from documents of each source (separators
    charge to their document) — the per-shard mixture accounting, computed
    from COUNTS alone (no ids materialize; rows O(docs + crossings)). Run
    with the same order/capacity as the pack it describes."""
    spark = df.sparkSession
    jorder = spark._jvm.java.util.ArrayList()  # type: ignore[union-attr]
    for c in order:
        jorder.add(_jcol(c))
    jdf = _bridge(df).tokenProvenance(df._jdf, _jcol(tokens), jorder,
                                      int(capacity), _jcol(source))
    return DataFrame(jdf, spark)


def fim_transform(text: ColumnOrName, id: ColumnOrName, rate: float,
                  salt: str = "graft") -> Column:
    """Fill-in-the-middle pretraining transform: a deterministic
    md5-threshold fraction of documents re-renders in PSM order
    <|fim_pre|>prefix<|fim_suf|>suffix<|fim_mid|>middle (md5-mod cut
    points in character units; no RNG — retries and engines agree); the
    rest pass through. Markers are fim_specials() for the id codec."""
    return _col_fn("fimTransform", _jcol(text), _jcol(id), float(rate),
                   str(salt))


def fim_applied(id: ColumnOrName, rate: float,
                salt: str = "graft") -> Column:
    """The transform's deterministic apply decision as a column."""
    return _col_fn("fimApplied", _jcol(id), float(rate), str(salt))


def fim_specials():
    """The three FIM markers in the order byte_bpe_encode_ids_special
    reserves ids for."""
    sc = SparkContext._active_spark_context
    return list(_bridge(sc).fimSpecials())


def pack_bins(df: DataFrame, tokens: ColumnOrName, order,
              capacity: int) -> DataFrame:
    """No-split sequence packing (histogram best-fit, SPFHP lineage):
    every document lands WHOLE in one fixed-capacity bin — padding-free
    batches without cross-document attention. Adds n_tokens, bin_id
    (dense from 0), slot (0-based within bin, lengths descending).
    Zero-token docs drop; docs longer than capacity fail loudly. The
    histogram solve is <= capacity driver rows regardless of corpus
    size; assignment is one broadcast interval join."""
    spark = df.sparkSession
    jorder = spark._jvm.java.util.ArrayList()  # type: ignore[union-attr]
    for c in order:
        jorder.add(_jcol(c))
    jdf = _bridge(df).packBins(df._jdf, _jcol(tokens), jorder, int(capacity))
    return DataFrame(jdf, spark)


def bin_pack_report(assigned: DataFrame, capacity: int) -> DataFrame:
    """One-row exact-integer layout report for a pack_bins assignment:
    (n_bins, n_docs, total_tokens, slot_capacity, min_bins)."""
    jdf = _bridge(assigned).binPackReport(assigned._jdf, int(capacity))
    return DataFrame(jdf, assigned.sparkSession)


def pack_bin_sequences(df: DataFrame, ids: ColumnOrName, order,
                       capacity: int) -> DataFrame:
    """The materialized no-split artifact -> (bin_id, ids, doc_starts,
    n_pad): each bin's documents concatenated WHOLE in slot order (no
    separators — doc_starts is the block-diagonal attention metadata) plus
    the padding needed to reach capacity."""
    spark = df.sparkSession
    jorder = spark._jvm.java.util.ArrayList()  # type: ignore[union-attr]
    for c in order:
        jorder.add(_jcol(c))
    jdf = _bridge(df).packBinSequences(df._jdf, _jcol(ids), jorder,
                                       int(capacity))
    return DataFrame(jdf, spark)


def streaming_retention_hits(stream: DataFrame, user: ColumnOrName,
                             event_time_column: str, period_us: int,
                             horizon: int = 64,
                             watermark_delay: str = "0 seconds") -> DataFrame:
    """Streaming retention -> append-mode (user_id, cohort_period,
    period_offset) first-activity-per-cell hits: cohort + offset-bitmask
    state per user (ceil(horizon/64)+1 longs), watermark-evicted past the
    horizon end; a live triangle is one downstream
    groupBy(cohort_period, period_offset).count()."""
    jdf = _bridge(stream).streamingRetentionHits(
        stream._jdf, _jcol(user), str(event_time_column), int(period_us),
        int(horizon), str(watermark_delay))
    return DataFrame(jdf, stream.sparkSession)


def conversation_neardup_pairs(df: DataFrame, id: ColumnOrName,
                               text: ColumnOrName, shingle_size: int = 3,
                               bands: int = 16, rows_per_band: int = 8,
                               threshold: float = 0.8,
                               max_bucket_size: int = 1000) -> DataFrame:
    """Conversation-level near-dup pairs -> (idA, idB, jaccard): the
    fingerprint is the content-only canonical form (roles and turn
    boundaries excluded), fed to the MinHash+LSH machinery — template
    re-wraps of the same dialogue dedup as one."""
    jdf = _bridge(df).conversationNearDupPairs(
        df._jdf, _jcol(id), _jcol(text), int(shingle_size), int(bands),
        int(rows_per_band), float(threshold), int(max_bucket_size))
    return DataFrame(jdf, df.sparkSession)


def conversation_neardup_pairs_messages(df: DataFrame, id: ColumnOrName,
                                        json: ColumnOrName,
                                        shingle_size: int = 3,
                                        bands: int = 16,
                                        rows_per_band: int = 8,
                                        threshold: float = 0.8,
                                        max_bucket_size: int = 1000) -> DataFrame:
    """conversation_neardup_pairs over the MESSAGES wire format."""
    jdf = _bridge(df).conversationNearDupPairsMessages(
        df._jdf, _jcol(id), _jcol(json), int(shingle_size), int(bands),
        int(rows_per_band), float(threshold), int(max_bucket_size))
    return DataFrame(jdf, df.sparkSession)


def history_apply_snapshot(history: DataFrame, snapshot: DataFrame, version,
                           version_col: str, id_cols,
                           attr_cols=None) -> DataFrame:
    """Incremental SCD2 maintenance: extend an existing history with one
    new snapshot at `version` (strictly after every version already in
    the history) WITHOUT rebuilding from the full stack — exactly
    equivalent to history_from_snapshots over the extended stack.
    Accepts int/str/date/datetime versions (routed through lit())."""
    from pyspark.sql.functions import lit as _lit
    spark = history.sparkSession
    jdf = _bridge(history).historyApplySnapshot(
        history._jdf, snapshot._jdf, _jcol(_lit(version)), str(version_col),
        _jstrlist(spark, id_cols),
        _jstrlist(spark, attr_cols if attr_cols is not None else []))
    return DataFrame(jdf, spark)


def with_temporal_split(df: DataFrame, ts_us: ColumnOrName, bounds: List[int],
                        names: List[str], embargo_us: int = 0,
                        output_column: str = "split") -> DataFrame:
    """Purged temporal split: label rows by event-time cutoffs; rows
    within embargo_us AFTER each cutoff get the reserved 'embargo' label
    (dropped from both sides of the boundary — the time-series leakage
    guard). Pure per-row algebra, streaming-legal."""
    spark = df.sparkSession
    jb = spark._jvm.java.util.ArrayList()
    for x in bounds:
        jb.add(int(x))
    jdf = _bridge(df).withTemporalSplit(df._jdf, _jcol(ts_us), jb,
                                        _jstrlist(spark, names),
                                        int(embargo_us), str(output_column))
    return DataFrame(jdf, spark)


def layout_report(spark: SparkSession, dirs: List[str],
                  target_file_bytes: int = 128 * 1024 * 1024) -> DataFrame:
    """Footer-only layout health report per directory: (dir, files,
    blocks, rows, compressed_bytes, small_files, target_files,
    compaction_recommended) — never reads data pages."""
    jdf = _bridge(spark.range(1)).layoutReport(
        spark._jsparkSession, _jstrlist(spark, dirs), int(target_file_bytes))
    return DataFrame(jdf, spark)
