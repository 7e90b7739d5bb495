"""Smoke tests for the graftspark PySpark mirror (py4j bridge half).

Run from the repo root after `sbt package`:

    python3 python/test/test_graftspark.py

Requires pyspark (same minor version as the Spark jars the graft jar was
built against) and a classic local session.
"""

import glob
import os
import shutil
import sys
import tempfile
import unittest
import zipfile
from decimal import Decimal
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

REPO_ROOT = Path(__file__).resolve().parent.parent.parent

from pyspark.sql import Row, SparkSession
from pyspark.sql.functions import col, date_format, expr, lit


def _graft_jar() -> str:
    jars = sorted(glob.glob(str(REPO_ROOT / "target" / "scala-*" / "*.jar")))
    jars = [j for j in jars if "sources" not in j and "javadoc" not in j]
    if not jars:
        raise RuntimeError("graft jar not found — run `sbt package` first")
    return jars[-1]


class GraftsparkTest(unittest.TestCase):
    spark: SparkSession = None

    @classmethod
    def setUpClass(cls):
        jar = _graft_jar()
        cls.spark = (
            SparkSession.builder
            .master("local[2]")
            .appName("graftspark-smoke")
            .config("spark.jars", jar)
            .config("spark.driver.extraClassPath", jar)
            .config("spark.sql.shuffle.partitions", "2")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.ui.enabled", "false")
            .getOrCreate())

    @classmethod
    def tearDownClass(cls):
        cls.spark.stop()

    # -- fixtures ------------------------------------------------------------

    def _left_right(self):
        left = self.spark.createDataFrame(
            [(1, "one"), (2, "two"), (3, "three")], ["id", "value"])
        right = self.spark.createDataFrame(
            [(1, "one"), (2, "Two"), (4, "four")], ["id", "value"])
        return left, right

    # -- diff ----------------------------------------------------------------

    def test_diff_basic(self):
        import graftspark.diff  # noqa: F401  (monkeypatches DataFrame.diff)
        left, right = self._left_right()
        actual = sorted(left.diff(right, "id").collect(), key=lambda r: r.id)
        expected = [
            Row(diff="N", id=1, left_value="one", right_value="one"),
            Row(diff="C", id=2, left_value="two", right_value="Two"),
            Row(diff="D", id=3, left_value="three", right_value=None),
            Row(diff="I", id=4, left_value=None, right_value="four"),
        ]
        self.assertEqual(actual, expected)

    def test_diff_patch(self):
        from graftspark.diff import patch_left, patch_right
        left, right = self._left_right()
        d = left.diff(right, "id")
        self.assertEqual(sorted(map(tuple, patch_right(d).collect())),
                         sorted(map(tuple, right.collect())))
        self.assertEqual(sorted(map(tuple, patch_left(d).collect())),
                         sorted(map(tuple, left.collect())))

    def test_diff_options_change_column_sparse_sidebyside(self):
        from graftspark.diff import DiffMode, DiffOptions
        left, right = self._left_right()
        options = (DiffOptions()
                   .with_change_column("changes")
                   .with_sparse_mode(True)
                   .with_diff_mode(DiffMode.SideBySide))
        rows = {r.id: r for r in left.diff(right, "id", options=options).collect()}
        self.assertEqual(rows[2].changes, ["value"])
        self.assertEqual(rows[1].changes, [])
        self.assertIsNone(rows[3].changes)
        # sparse: unchanged values nulled on both sides
        self.assertIsNone(rows[1].left_value)
        self.assertIsNone(rows[1].right_value)
        self.assertEqual(rows[2].left_value, "two")
        # side-by-side: left block then right block
        cols = left.diff(right, "id", options=options).columns
        self.assertEqual(cols, ["diff", "changes", "id", "left_value", "right_value"])

    def test_diff_epsilon_comparator(self):
        from graftspark.diff import DiffComparators, DiffOptions
        left = self.spark.createDataFrame([(1, 100.0), (2, 1.0)], ["id", "value"])
        right = self.spark.createDataFrame([(1, 100.009), (2, 2.0)], ["id", "value"])
        options = DiffOptions().with_data_type_comparator(
            DiffComparators.epsilon(0.0001, relative=True), "double")
        actions = {r.id: r.diff for r in left.diff(right, "id", options=options).collect()}
        self.assertEqual(actions, {1: "N", 2: "C"})

    def test_diff_ignore_columns(self):
        left = self.spark.createDataFrame([(1, "one", "x")], ["id", "value", "meta"])
        right = self.spark.createDataFrame([(1, "one", "y")], ["id", "value", "meta"])
        row = left.diff(right, "id", ignore_columns=["meta"]).collect()[0]
        self.assertEqual(row.diff, "N")

    def test_diff_with(self):
        left, right = self._left_right()
        rows = {r._1: r for r in left.diff_with(right, "id").collect()
                if r._1 in ("I", "D")}
        self.assertIsNone(rows["I"]._2)
        self.assertEqual(rows["I"]._3.id, 4)
        self.assertIsNone(rows["D"]._3)
        self.assertEqual(rows["D"]._2.id, 3)

    # -- histogram -------------------------------------------------------------

    def test_histogram(self):
        import graftspark  # noqa: F401
        df = self.spark.createDataFrame(
            [(i, "a" if i % 2 == 0 else "b") for i in range(1, 11)], ["v", "g"])
        hist = {r.g: r for r in df.histogram([3, 7], col("v"), "g").collect()}
        self.assertEqual((hist["a"]["≤3"], hist["a"]["≤7"], hist["a"][">7"]), (1, 2, 2))
        self.assertEqual((hist["b"]["≤3"], hist["b"]["≤7"], hist["b"][">7"]), (2, 2, 1))

    def test_histogram_float_thresholds_no_group(self):
        import graftspark  # noqa: F401
        df = self.spark.createDataFrame([(0.1,), (0.4,), (0.9,)], ["v"])
        row = df.histogram([0.5], col("v")).collect()[0]
        self.assertEqual((row["≤0.5"], row[">0.5"]), (2, 1))

    # -- row numbers -----------------------------------------------------------

    def test_with_row_numbers(self):
        import graftspark
        df = self.spark.range(1, 101).withColumn("neg", -col("id"))
        got = {r.id: r.row_number
               for r in df.with_row_numbers(order="id", ascending=False).collect()}
        self.assertEqual(got[100], 1)
        self.assertEqual(got[1], 100)

        handle = self.spark.unpersist_handle()
        df2 = df.with_row_numbers(unpersist_handle=handle, order=[col("id")])
        self.assertEqual(df2.where(col("id") == col("row_number")).count(), 100)
        handle.unpersist(True)

    # -- parquet ----------------------------------------------------------------

    def test_parquet_scans(self):
        import graftspark.parquet  # noqa: F401
        path = tempfile.mkdtemp(prefix="graftspark-parquet-")
        try:
            self.spark.range(0, 1000).repartition(2).write.mode("overwrite").parquet(path)
            files = glob.glob(os.path.join(path, "*.parquet"))

            meta = self.spark.read.parquet_metadata(path)
            self.assertEqual(meta.count(), len(files))
            self.assertEqual(meta.agg(expr("sum(rows)")).collect()[0][0], 1000)

            schema = self.spark.read.parquet_schema(path)
            self.assertEqual(
                {r.columnName for r in schema.select("columnName").distinct().collect()},
                {"id"})

            blocks = self.spark.read.parquet_blocks(path, parallelism=1)
            self.assertGreaterEqual(blocks.count(), len(files))

            block_cols = self.spark.read.parquet_block_columns(path)
            self.assertGreaterEqual(block_cols.count(), len(files))

            parts = self.spark.read.parquet_partitions(path)
            self.assertEqual(
                parts.agg(expr("sum(rows)")).collect()[0][0], 1000)
        finally:
            shutil.rmtree(path, ignore_errors=True)

    # -- ticks -------------------------------------------------------------------

    def test_ticks_codecs(self):
        from graftspark import (
            dotnet_ticks_to_timestamp, dotnet_ticks_to_unix_epoch,
            dotnet_ticks_to_unix_epoch_nanos, timestamp_to_dotnet_ticks,
            unix_epoch_to_dotnet_ticks, unix_epoch_nanos_to_dotnet_ticks)
        df = self.spark.createDataFrame([(638155413748959318,)], ["ticks"])
        row = df.select(
            date_format(dotnet_ticks_to_timestamp("ticks"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
            dotnet_ticks_to_unix_epoch(col("ticks")).alias("epoch"),
            dotnet_ticks_to_unix_epoch_nanos("ticks").alias("nanos"),
        ).collect()[0]
        self.assertEqual(row.ts, "2023-03-27 19:16:14.895931")
        self.assertEqual(row.epoch, Decimal("1679944574.895931800"))
        self.assertEqual(row.nanos, 1679944574895931800)

        back = self.spark.sql(
            "SELECT timestamp'2023-03-27 19:16:14.895931' AS ts, "
            "CAST(1679944574.8959312 AS DECIMAL(19,7)) AS epoch, "
            "1679944574895931234 AS nanos")
        row2 = back.select(
            timestamp_to_dotnet_ticks("ts").alias("t1"),
            unix_epoch_to_dotnet_ticks("epoch").alias("t2"),
            unix_epoch_nanos_to_dotnet_ticks("nanos").alias("t3"),
        ).collect()[0]
        self.assertEqual(row2.t1, 638155413748959310)
        self.assertEqual(row2.t2, 638155413748959312)
        self.assertEqual(row2.t3, 638155413748959312)

    # -- utilities ----------------------------------------------------------------

    def test_count_null_and_name_helpers(self):
        from graftspark import backticks, count_null, distinct_prefix_for
        df = self.spark.createDataFrame([(1, None), (2, "x")], ["id", "v"])
        self.assertEqual(df.select(count_null("v").alias("n")).collect()[0].n, 1)
        self.assertEqual(backticks("a.b", "c"), "`a.b`.c")
        self.assertEqual(backticks("simple"), "simple")
        self.assertEqual(distinct_prefix_for(["a", "__b"]), "___")

    def test_job_description(self):
        from graftspark import append_job_description, job_description
        sc = self.spark.sparkContext
        prop = "spark.job.description"
        with job_description("outer"):
            self.assertEqual(sc.getLocalProperty(prop), "outer")
            with append_job_description("inner"):
                self.assertEqual(sc.getLocalProperty(prop), "outer - inner")
            self.assertEqual(sc.getLocalProperty(prop), "outer")
        self.assertIsNone(sc.getLocalProperty(prop))

    def test_create_temporary_dir(self):
        import graftspark  # noqa: F401
        d = self.spark.create_temporary_dir("graft-test-")
        self.assertTrue(os.path.isdir(d))

    def test_install_pip_package(self):
        import graftspark  # noqa: F401
        whl_dir = tempfile.mkdtemp(prefix="graftspark-whl-")
        try:
            whl = self._make_wheel(whl_dir)
            self.spark.install_pip_package("--no-index", whl)
            import graftdemo
            self.assertEqual(graftdemo.MAGIC, 42)
            # the shipped archive is importable on executors too
            ok = self.spark.sparkContext.parallelize([1], 1).map(
                lambda _: __import__("graftdemo").MAGIC).collect()
            self.assertEqual(ok, [42])
        finally:
            shutil.rmtree(whl_dir, ignore_errors=True)

    def test_pipeline_column_functions(self):
        from graftspark import pipeline as P
        df = self.spark.createDataFrame(
            [(1, "The cat sat on the mat the cat sat"), (2, "a a a a"), (3, "")],
            ["id", "text"])
        row = (df
               .select("id",
                       P.tokenize_ascii("text").alias("toks"),
                       P.token_stats("text").alias("st"),
                       P.top_ngram_stats("text", 2).alias("g2"),
                       P.top_ngram_fraction("text", 2).alias("fr"),
                       P.chunk_tokens("text", 4, 1).alias("chunks"),
                       P.lang_id("text").alias("lang"),
                       P.fingerprint_md5("text").alias("fp"),
                       P.hashed_word_shingles("text", 2).alias("sh"))
               .orderBy("id").collect())
        self.assertEqual(row[0]["toks"][:3], ["the", "cat", "sat"])
        self.assertEqual(row[0]["st"][0], 9)       # 9 tokens
        self.assertEqual(row[1]["g2"], [3, 3])     # all bigrams are "a a"
        self.assertEqual(row[1]["fr"], 1.0)
        self.assertEqual(row[2]["chunks"], [])
        self.assertEqual(row[0]["lang"], "en")
        self.assertEqual(len(row[0]["fp"]), 32)
        self.assertTrue(len(row[0]["sh"]) > 0)

    def test_pipeline_dataframe_operators(self):
        from graftspark import pipeline as P
        df = self.spark.createDataFrame(
            [(1, "alpha beta gamma delta"), (2, "alpha  beta GAMMA delta"),
             (3, "totally different text here")],
            ["id", "text"])
        # chunking explodes to one row per chunk
        chunks = P.chunk_by_tokens(df, "text", 2, 0, col("id")).collect()
        self.assertEqual(sorted((r["id"], r["chunk_index"]) for r in chunks),
                         [(1, 0), (1, 1), (2, 0), (2, 1), (3, 0), (3, 1)])
        # exact dedup folds case/whitespace variants
        kept = sorted(r["id"] for r in
                      P.drop_exact_text_duplicates(df, col("id"), col("text")).collect())
        self.assertEqual(kept, [1, 3])
        # minhash pairs and end-to-end dedup agree
        pairs = P.near_dup_pairs_minhash(
            df, col("id"), col("text"), shingle_size=2, threshold=0.99).collect()
        self.assertEqual([(r["idA"], r["idB"]) for r in pairs], [(1, 2)])
        kept2 = sorted(r["id"] for r in P.deduplicate_minhash(
            df, col("id"), col("text"), shingle_size=2, threshold=0.99).collect())
        self.assertEqual(kept2, [1, 3])
        # simhash path finds the same pair
        spairs = P.near_dup_pairs_simhash(
            df, col("id"), col("text"), shingle_size=2, threshold=0.99).collect()
        self.assertEqual([(r["idA"], r["idB"]) for r in spairs], [(1, 2)])
        # decontamination: doc 3 as the blocklist knocks out only doc 3
        block = df.filter(col("id") == 3).select("text")
        kept3 = sorted(r["id"] for r in P.decontaminate(
            df, col("text"), block, col("text"),
            shingle_size=2, min_overlap=1).collect())
        self.assertEqual(kept3, [1, 2])
        # doc 3 shares 3 bigram shingles with the blocklist: a threshold
        # above that keeps every doc
        kept4 = sorted(r["id"] for r in P.decontaminate(
            df, col("text"), block, col("text"),
            shingle_size=2, min_overlap=4).collect())
        self.assertEqual(kept4, [1, 2, 3])

    def test_pipeline_epoch_order(self):
        from graftspark import pipeline as P
        docs = self.spark.createDataFrame([(i,) for i in range(100)], ["id"])
        # epoch shuffle: contiguous permutation, reproducible, epoch-dependent
        e1 = {r["id"]: r["shuffle_pos"]
              for r in P.epoch_shuffle(docs, "id", 7, 1).collect()}
        self.assertEqual(sorted(e1.values()), list(range(1, 101)))
        again = {r["id"]: r["shuffle_pos"]
                 for r in P.epoch_shuffle(docs.repartition(5), "id", 7, 1).collect()}
        self.assertEqual(e1, again)
        e2 = {r["id"]: r["shuffle_pos"]
              for r in P.epoch_shuffle(docs, "id", 7, 2).collect()}
        self.assertNotEqual(e1, e2)
        # epoch shards: in-range shards, contiguous per-shard positions
        rows = P.epoch_shards(docs, "id", 7, 1, 4).collect()
        self.assertTrue(all(0 <= r["shard"] < 4 for r in rows))
        by_shard = {}
        for r in rows:
            by_shard.setdefault(r["shard"], []).append(r["shard_pos"])
        for poss in by_shard.values():
            self.assertEqual(sorted(poss), list(range(1, len(poss) + 1)))
        # dehyphenation repair rides the same curation surface
        t = self.spark.createDataFrame(
            [("exam-\nple",), ("stay-- \nput",), ("New-\nYork",)], ["t"])
        fixed = [r["c"] for r in t.select(P.dehyphenate(col("t")).alias("c")).collect()]
        self.assertEqual(fixed, ["example", "stay-- \nput", "New-\nYork"])

    def test_pipeline_linkage_cards_chat(self):
        from graftspark import pipeline as P
        # Luhn-gated card redaction: valid PAN redacts, bad checksum survives
        t = self.spark.createDataFrame(
            [("pay 4111111111111111 now",), ("ref 4111111111111112 ok",)], ["t"])
        got = t.select(P.redact_valid_cards("t").alias("r"),
                       P.valid_card_count("t").alias("n")).collect()
        self.assertEqual([(r["r"], r["n"]) for r in got],
                         [("pay [CARD] now", 1), ("ref 4111111111111112 ok", 0)])
        # soundex + fixed-point Jaro-Winkler kernels
        sx = t.select(P.soundex4(lit("Robert")).alias("s")).first()["s"]
        self.assertEqual(sx, "R163")
        jw = t.select(P.jaro_winkler_fp(lit("abc"), lit("abc")).alias("v")).first()["v"]
        self.assertEqual(jw, 1 << 20)
        # blocked linkage end to end
        left = self.spark.createDataFrame(
            [(1, "Jonathan Smith"), (2, "Margaret Chen")], ["id", "name"])
        right = self.spark.createDataFrame(
            [(10, "Jonathon Smith"), (11, "Zz Top")], ["id", "name"])
        n_cached = self.spark.sparkContext._jsc.getPersistentRDDs().size()
        pairs = P.link_records(left, right, "id", "name", "id", "name").collect()
        self.assertEqual([(r["id_a"], r["id_b"]) for r in pairs], [(1, 10)])
        # the python default takes no cache (no handles to release one)
        self.assertEqual(
            self.spark.sparkContext._jsc.getPersistentRDDs().size(), n_cached)
        # composite blocking: a second key splits the (equal-soundex) block
        lb = self.spark.createDataFrame(
            [(1, "Jonathan Smith", "nyc"), (2, "Jonathan Smith", "sfo")],
            ["id", "name", "city"])
        rb = self.spark.createDataFrame(
            [(10, "Jonathon Smith", "nyc")], ["id", "name", "city"])
        pb = P.link_records(lb, rb, "id", "name", "id", "name",
                            extra_block_left=["city"],
                            extra_block_right=["city"]).collect()
        self.assertEqual([(r["id_a"], r["id_b"]) for r in pb], [(1, 10)])
        # referential integrity: one orphan, nulls exempt
        fact = self.spark.createDataFrame([(1, 10), (2, 99), (3, None)], ["id", "fk"])
        dim = self.spark.createDataFrame([(10,), (20,)], ["k"])
        fk = P.foreign_key_check(fact, "fk", dim, "k").first()
        self.assertEqual((fk["rule"], fk["metric"], fk["pass"]),
                         ("foreign_key", 1.0, False))
        # chat audit + budget trim
        conv = self.spark.createDataFrame(
            [(1, "system: s t\nuser: a b c\nassistant: d")], ["id", "t"])
        st = P.chat_stats(conv, "id", "t").first()
        self.assertEqual((st["n_turns"], st["n_user"], st["alternation_ok"]),
                         (3, 1, True))
        trim = {r["turn_idx"]: r["kept"]
                for r in P.chat_truncate_to_budget(conv, "id", "t", 3).collect()}
        # system (2 tokens) pins and charges first; remaining budget 1 fits
        # the assistant turn (1 token) but not the user turn (3 tokens)
        self.assertEqual(trim, {0: True, 1: False, 2: True})
        # MESSAGES format: embedded-newline content parses as ONE turn;
        # a malformed row quarantines as one invalid turn
        mconv = self.spark.createDataFrame(
            [(1, '{"messages": [{"role": "system", "content": "s t"}, '
                 '{"role": "user", "content": "a b\\nc"}, '
                 '{"role": "assistant", "content": "d"}]}'),
             (2, "{nope")], ["id", "j"])
        ms = {r["id"]: (r["n_turns"], r["n_invalid"], r["alternation_ok"])
              for r in P.chat_stats_messages(mconv, "id", "j").collect()}
        self.assertEqual(ms, {1: (3, 0, True), 2: (1, 1, False)})
        mtrim = {(r["id"], r["turn_idx"]): r["kept"]
                 for r in P.chat_truncate_messages_to_budget(
                     mconv, "id", "j", 3).collect()}
        # sys=2 pins; remaining 1 fits assistant (1) but not user (3)
        self.assertEqual(mtrim[(1, 0)], True)
        self.assertEqual(mtrim[(1, 1)], False)
        self.assertEqual(mtrim[(1, 2)], True)
        # reassembly: the trimmed artifact in both wire formats
        rl = P.chat_rebuild_transcript(conv, "id", "t", 3).first()
        self.assertEqual(rl["trimmed_text"], "system: s t\nassistant: d")
        rm = P.chat_rebuild_messages(mconv, "id", "j", 3)
        back = {r["id"]: r["role"]
                for r in P.chat_explode_messages(
                    rm, "id", "messages_json").collect()
                if r["turn_idx"] == 1}
        self.assertEqual(back[1], "assistant")

    def test_pipeline_funnel_retention(self):
        from graftspark import pipeline as P
        ev = self.spark.createDataFrame(
            [(1, 0, "a"), (1, 5, "b"), (1, 9, "c"), (2, 0, "a"), (2, 200, "b")],
            ["u", "t", "ty"])
        ft = {r["user_id"]: r["depth"]
              for r in P.funnel_times(ev, "u", "t", "ty", ["a", "b", "c"],
                                      window_us=100).collect()}
        self.assertEqual(ft, {1: 3, 2: 1})  # user 2's b falls outside the window
        rep = {r["step"]: r["users"]
               for r in P.funnel_report(ev, "u", "t", "ty", ["a", "b", "c"],
                                        window_us=100).collect()}
        self.assertEqual(rep, {"a": 2, "b": 1, "c": 1})
        # per-step anchoring: each step re-anchors the window at the
        # previous one (user 1: c at 9 is within 5 of b at 5)
        fs = {r["user_id"]: r["depth"]
              for r in P.funnel_times(ev, "u", "t", "ty", ["a", "b", "c"],
                                      window_us=5,
                                      per_step_window=True).collect()}
        self.assertEqual(fs, {1: 3, 2: 1})
        lg = {r["step_idx"]: (r["users"], r["min_lag_us"], r["sum_lag_us"])
              for r in P.funnel_lags(ev, "u", "t", "ty", ["a", "b", "c"],
                                     window_us=100).collect()}
        # user 1: a@0 b@5 c@9; user 2: a@0 (b@200 outside window)
        self.assertEqual(lg, {1: (2, 0, 0), 2: (1, 5, 5), 3: (1, 4, 4)})
        stt = {(r["user_id"], r["step_idx"]): r["t_us"]
               for r in P.funnel_step_times(ev, "u", "t", "ty",
                                            ["a", "b", "c"],
                                            window_us=100).collect()}
        self.assertEqual(stt, {(1, 1): 0, (1, 2): 5, (1, 3): 9,
                               (2, 1): 0})
        rc = {(r["cohort_period"], r["period_offset"]): r["users"]
              for r in P.retention_cohorts(ev, "u", "t", period_us=100).collect()}
        self.assertEqual(rc, {(0, 0): 2, (0, 2): 1})
        ev2 = self.spark.createDataFrame(
            [(1, 0, 10, "a"), (1, 1, 11, "b"), (2, 5, 20, "a"), (2, 5, 21, "b")],
            ["u", "t", "eid", "ty"])
        tm = {(r["from_type"], r["to_type"]): r["transitions"]
              for r in P.transition_matrix(ev2, "u", "t", "eid", "ty").collect()}
        self.assertEqual(tm, {("a", "b"): 2})
        # HLL tier matches exact at small cardinalities; exclusion counter
        rca = {(r["cohort_period"], r["period_offset"]):
               int(r["users_estimate"])
               for r in P.retention_cohorts_approx(
                   ev, "u", "t", period_us=100).collect()}
        self.assertEqual(rca, rc)
        ev3 = self.spark.createDataFrame(
            [(1, 0, 10, "a"), (None, 1, 11, "b"), (2, None, 12, "a"),
             (3, 3, None, "c")],
            ["u", "t", "eid", "ty"])
        ex = P.transition_matrix_excluded(ev3, "u", "t", "eid").first()
        self.assertEqual((ex["excluded_rows"], ex["total_rows"]), (3, 4))
        # incremental SCD2 apply == full rebuild
        snaps = self.spark.createDataFrame(
            [(1, 1, "a"), (2, 1, "a"), (1, 2, "a"), (2, 2, "B"), (3, 2, "x")],
            ["id", "v", "attr"])
        full = P.history_from_snapshots(snaps, "v", ["id"])
        inc = P.history_apply_snapshot(
            P.history_from_snapshots(snaps.filter("v = 1"), "v", ["id"]),
            snaps.filter("v = 2").select("id", "attr"), 2, "v", ["id"])
        self.assertEqual(sorted(map(tuple, full.collect())),
                         sorted(map(tuple, inc.collect())))
        # purged temporal split: boundary rows embargo out of both sides
        ts = self.spark.createDataFrame([(i,) for i in [0, 9, 10, 14, 15]], ["t"])
        lab = {r["t"]: r["split"]
               for r in P.with_temporal_split(ts, "t", [10], ["train", "test"],
                                              embargo_us=5).collect()}
        self.assertEqual(lab, {0: "train", 9: "train", 10: "embargo",
                               14: "embargo", 15: "test"})
        # layout report over a freshly fragmented directory
        import tempfile
        d = tempfile.mkdtemp(prefix="graft-layout-py") + "/frag"
        self.spark.range(2000).repartition(8).write.parquet(d)
        rep = P.layout_report(self.spark, [d], target_file_bytes=1 << 30).first()
        self.assertEqual((rep["files"], rep["rows"], rep["target_files"],
                          rep["compaction_recommended"]), (8, 2000, 1, True))

    def test_pipeline_mixture_interleave(self):
        from graftspark import pipeline as P
        docs = self.spark.createDataFrame(
            [(i, "a" if i % 2 == 0 else "b") for i in range(80)], ["id", "src"])
        rows = sorted(P.mixture_interleave(docs, "id", "src",
                                           {"a": 3, "b": 1}, 7, 1).collect(),
                      key=lambda r: r["mix_pos"])
        self.assertEqual([r["mix_pos"] for r in rows], list(range(1, 81)))
        # 3:1 proportion in the balanced prefix (within the WFQ bound)
        prefix = rows[:40]
        na = sum(1 for r in prefix if r["src"] == "a")
        self.assertTrue(28 <= na <= 32, na)
        # keep-one span removal: 'a b c' survives in doc 1, removed from doc 2
        span_docs = self.spark.createDataFrame(
            [(1, "a b c d e"), (2, "z a b c y")], ["doc_id", "text"])
        kept = {r["doc_id"]: (r["clean_text"], r["removed_tokens"])
                for r in P.remove_repeated_spans(span_docs, "doc_id", "text",
                                                 k=3, keep_first=True).collect()}
        self.assertEqual(kept[1], ("a b c d e", 0))
        self.assertEqual(kept[2], ("z y", 3))

    def test_pipeline_curation_operators(self):
        from graftspark import pipeline as P
        docs = self.spark.createDataFrame(
            [(i, "s%d" % (i % 2)) for i in range(200)], ["id", "g"])
        # hash sampling is a function of the key alone: any partitioning agrees
        a = sorted(r["id"] for r in P.hash_sample(docs, "id", 0.5).collect())
        b = sorted(r["id"] for r in
                   P.hash_sample(docs.repartition(7), "id", 0.5).collect())
        self.assertEqual(a, b)
        self.assertTrue(50 < len(a) < 150)
        # stratified: rate 0 empties s0, default 1.0 keeps all of s1
        strat = P.stratified_hash_sample(docs, "g", "id", {"s0": 0.0}, 1.0)
        self.assertEqual({r["g"] for r in strat.collect()}, {"s1"})
        self.assertEqual(strat.count(), 100)
        # temperature sampling: alpha=1 keeps everything; alpha=0.5 keeps
        # the smallest domain whole
        self.assertEqual(
            P.temperature_sample(docs, "g", "id", alpha=1.0).count(), 200)
        temp = P.temperature_sample(docs, "g", "id").groupBy("g").count()
        tc = {r["g"]: r["count"] for r in temp.collect()}
        self.assertEqual(min(tc.values()), 100)  # equal-size domains: all kept
        # clustering: 1~3 and 2~3 form one family; 4 is a singleton
        pairs = self.spark.createDataFrame([(1, 3), (2, 3)], ["idA", "idB"])
        base = self.spark.createDataFrame([(1,), (2,), (3,), (4,)], ["id"])
        comp = {r["id"]: r["component"] for r in
                P.connected_components(pairs).collect()}
        self.assertEqual(comp, {1: 1, 2: 1, 3: 1})
        labels = {r["id"]: r["cluster_id"] for r in
                  P.assign_clusters(base, "id", pairs).collect()}
        self.assertEqual(labels, {1: 1, 2: 1, 3: 1, 4: 4})
        kept = sorted(r["id"] for r in
                      P.deduplicate_by_clusters(base, "id", pairs).collect())
        self.assertEqual(kept, [1, 4])
        scored = self.spark.createDataFrame(
            [(1, 10), (2, 30), (3, 20), (4, 5)], ["id", "score"])
        best = sorted(r["id"] for r in
                      P.keep_best_by_clusters(scored, "id", "score", pairs).collect())
        self.assertEqual(best, [2, 4])  # highest score in the 1~3~2 family wins
        # leakage-safe split: the 1~3~2 family shares one split label
        sp = {r["id"]: r["split"] for r in P.split_by_clusters(
            base, "id", pairs, {"train": 0.8, "val": 0.1, "test": 0.1}).collect()}
        self.assertEqual(len({sp[1], sp[2], sp[3]}), 1)
        # soft dedup: family of 3 weighs 1/3 each, singleton weighs 1
        w = {r["id"]: r["dedup_weight"] for r in
             P.soft_dedup_weights(base, "id", pairs).collect()}
        self.assertAlmostEqual(w[1], 1.0 / 3)
        self.assertEqual(w[4], 1.0)
        # redaction scrubs emails, IPv4 and long digit runs
        red = self.spark.createDataFrame(
            [("mail a@b.co from 8.8.8.8 ref 987654321",)], ["t"]) \
            .select(P.redact_pii("t").alias("r")).collect()[0]["r"]
        self.assertEqual(red, "mail [REDACTED] from [REDACTED] ref [REDACTED]")

    def test_pipeline_agg_and_quality_operators(self):
        from graftspark import pipeline as P
        from pyspark.sql.functions import col as c
        df = self.spark.createDataFrame(
            [("a", 1, 10.0), ("a", 2, 30.0), ("a", 3, 20.0), ("b", 4, 5.0)],
            ["k", "id", "v"])
        top = {(r["k"], r["id"]): r["rank"] for r in
               P.top_k_per_group(df, ["k"], [c("v").desc(), c("id").asc()], 2).collect()}
        self.assertEqual(top, {("a", 2): 1, ("a", 3): 2, ("b", 4): 1})
        freq = {r["item"]: r["cnt"] for r in P.frequent_items(
            self.spark.createDataFrame(
                [("hot",)] * 30 + [("x%d" % i,) for i in range(20)], ["w"]),
            "w", 0.2, capacity=16).collect()}
        self.assertEqual(freq, {"hot": 30})
        prof = {r["column"]: (r["n_nulls"], r["n_distinct"]) for r in
                P.profile_columns(df, ["k", "v"]).collect()}
        self.assertEqual(prof, {"k": (0, 2), "v": (0, 4)})
        gate = P.distinct_count_gate(df, "k", "id").collect()
        self.assertTrue(all(r["hll_ok"] for r in gate))
        dl = self.spark.createDataFrame([("spam ham " * 100,)], ["t"]) \
            .select(P.deflate_length("t").alias("n")).collect()[0]["n"]
        self.assertTrue(0 < dl < 200)
        lm = {r["id"]: (r["n_bigrams"], r["sum_bits"]) for r in P.lm_score_bits(
            self.spark.createDataFrame(
                [(1, "a b a b"), (2, "a c"), (3, "z")], ["id", "t"]),
            "id", "t").collect()}
        # counts: a=3,b=2,c=1; "a b"=2,"b a"=1,"a c"=1 -> bits 0,1,1
        self.assertEqual(lm, {1: (3, 1), 2: (1, 1), 3: (0, 0)})
        # prefix sums / packing: cumulative-before of (10,20,30) is (0,10,30)
        seqs = self.spark.createDataFrame(
            [(1, 10), (2, 20), (3, 30)], ["id", "n"])
        rt = {r["id"]: r["running_total"] for r in
              P.with_running_total(seqs, "n", [c("id")]).collect()}
        self.assertEqual(rt, {1: 0, 2: 10, 3: 30})
        packed = {r["id"]: (r["seq_id"], r["seq_offset"]) for r in
                  P.pack_sequences(seqs, "n", [c("id")], 25).collect()}
        self.assertEqual(packed, {1: (0, 0), 2: (0, 10), 3: (1, 5)})
        self.spark.catalog.clearCache()  # prefix sums persist internally
        # z-order re-layout preserves the data
        zsrc = self.spark.createDataFrame(
            [(i, (i * 7) % 50, (i * 13) % 50) for i in range(200)],
            ["id", "x", "y"])
        zdf = P.zorder_by(zsrc, ["x", "y"], partitions=4)
        self.assertEqual(sorted(r["id"] for r in zdf.collect()), list(range(200)))
        # fuzzy join: substitution/insertion pair up, unrelated doesn't
        fz = self.spark.createDataFrame(
            [(1, "smith"), (2, "smyth"), (3, "smiths"), (4, "jones")],
            ["id", "name"])
        pairs = {(r["idA"], r["idB"]) for r in
                 P.edit_distance1_pairs(fz, "id", "name").collect()}
        self.assertEqual(pairs, {(1, 2), (1, 3)})

    def test_pipeline_budget_quantile_tfidf_crosscorpus(self):
        from graftspark import pipeline as P
        from pyspark.sql.functions import col as c
        docs = self.spark.createDataFrame(
            [(i, "s%d" % (i % 3)) for i in range(300)], ["id", "g"])
        # exact-k per-group draw: 4 rows per group, stable under repartitioning
        samp = P.sample_k_per_group(docs, ["g"], "id", 4)
        rows = [(r["g"], r["id"]) for r in samp.collect()]
        self.assertEqual(len(rows), 12)
        again = [(r["g"], r["id"]) for r in
                 P.sample_k_per_group(docs.repartition(5), ["g"], "id", 4).collect()]
        self.assertEqual(sorted(rows), sorted(again))
        # token-budget mixing: under-budget stratum kept whole
        weighted = self.spark.createDataFrame(
            [("big", i, 100) for i in range(100)] +
            [("small", 1000 + i, 10) for i in range(5)], ["g", "id", "w"])
        kept = P.token_budget_sample(weighted, "g", "id", "w", 2000).collect()
        self.assertEqual(sum(1 for r in kept if r["g"] == "small"), 5)
        self.assertTrue(sum(1 for r in kept if r["g"] == "big") < 60)
        # quantile gate: median of 1..9 is 5, sketch verdict boolean-true
        q = P.quantile_gate(self.spark.createDataFrame(
            [("a", float(v)) for v in range(1, 10)], ["g", "v"]), "g", "v", 0.5)
        row = q.collect()[0]
        self.assertEqual((row["g"], row["exact_q"], row["q_ok"]), ("a", 5.0, True))
        # tf-idf: the marker word of each group ranks first; shared word absent
        tf = P.tfidf_terms(self.spark.createDataFrame(
            [(1, "x", "shared alpha"), (2, "x", "shared alpha"),
             (3, "y", "shared beta"), (4, "y", "shared beta")],
            ["id", "g", "t"]), "g", "t", 1)
        top = {(r["group_key"], r["term"]) for r in tf.collect()}
        self.assertEqual(top, {("x", "alpha"), ("y", "beta")})
        # decontamination: contaminated doc dropped, clean kept
        ref_block = self.spark.createDataFrame(
            [("the quick brown fox jumps over the lazy dog",)], ["t"])
        corpus = self.spark.createDataFrame(
            [(1, "intro then the quick brown fox jumps over the lazy dog"),
             (2, "a clean document about gardening and soil quality today")],
            ["id", "t"])
        clean = sorted(r["id"] for r in P.decontaminate(
            corpus, "t", ref_block, "t", shingle_size=5).collect())
        self.assertEqual(clean, [2])
        # cross-corpus dedup: the near-copy is dropped, the fresh doc survives
        ref = self.spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog again today")],
            ["id", "t"])
        batch = self.spark.createDataFrame(
            [(10, "the quick brown fox jumps over the lazy dog again tonight"),
             (11, "completely unrelated text about sailing ships and harbors")],
            ["id", "t"])
        pairs = {(r["idA"], r["idB"]) for r in
                 P.near_dup_pairs_minhash_against(batch, ref, "id", "t",
                                                  threshold=0.5).collect()}
        self.assertEqual(pairs, {(10, 1)})
        kept_ids = sorted(r["id"] for r in
                          P.deduplicate_against(batch, ref, "id", "t",
                                                threshold=0.5).collect())
        self.assertEqual(kept_ids, [11])

    def test_pipeline_temporal_operators(self):
        from graftspark import pipeline as P
        from pyspark.sql.functions import lit
        left = self.spark.createDataFrame(
            [(1, 10), (1, 20), (2, 10)], ["k", "t"])
        right = self.spark.createDataFrame(
            [(1, 10, "a"), (1, 15, "b")], ["k", "t", "v"])
        rows = {(r["k"], r["t"]): r["asof_v"] for r in
                P.asof_join(left, right, ["k"], "t", "t", ["v"]).collect()}
        self.assertEqual(rows, {(1, 10): "a", (1, 20): "b", (2, 10): None})
        # time-bucketed hot-key variant returns identical results
        bucketed = {(r["k"], r["t"]): r["asof_v"] for r in
                    P.asof_join(left, right, ["k"], "t", "t", ["v"],
                                time_bucket_width=7.0).collect()}
        self.assertEqual(bucketed, rows)
        points = self.spark.createDataFrame([(1, 5.0), (2, 50.0)], ["pid", "v"])
        ivals = self.spark.createDataFrame([(9, 0.0, 10.0)], ["iid", "lo", "hi"])
        pairs = [(r["pid"], r["iid"]) for r in
                 P.range_join(points, "v", ivals, "lo", "hi", 10.0).collect()]
        self.assertEqual(pairs, [(1, 9)])
        sess = P.with_session_index(
            self.spark.createDataFrame([(1, 0), (1, 50), (1, 500)], ["k", "t"]),
            "k", "t", lit(100))
        idx = sorted(r["session_idx"] for r in sess.collect())
        self.assertEqual(idx, [1, 1, 2])

    def test_pipeline_multimodal_headers(self):
        from graftspark import pipeline as P
        # a minimal real PNG header (IHDR 7x9) and a non-image payload
        import struct
        png = (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
               + struct.pack(">IIBBBBB", 7, 9, 8, 2, 0, 0, 0) + b"\x00" * 4)
        rows = [(1, bytearray(png)), (2, bytearray(b"plain text"))]
        df = self.spark.createDataFrame(rows, ["i", "payload"])
        got = {r["id"]: (r["format"], r["width"], r["height"]) for r in
               P.extract_media_features(df, "i", "payload").collect()}
        self.assertEqual(got[1], ("png", 7, 9))
        self.assertEqual(got[2], (None, None, None))
        # a minimal real WAV via the stdlib wave module
        import io
        import wave
        buf = io.BytesIO()
        w = wave.open(buf, "wb")
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(b"\x00\x01" * 20)  # 10 stereo 16-bit frames
        w.close()
        adf = self.spark.createDataFrame([(5, bytearray(buf.getvalue()))],
                                         ["i", "payload"])
        a = P.extract_audio_features(adf, "i", "payload").collect()[0]
        self.assertEqual((a["channels"], a["sample_rate"],
                          a["bits_per_sample"], a["n_frames"]), (2, 8000, 16, 10))
        # frame-sampling plan over the committed golden video fixtures:
        # expected integers recomputed from the fixture's own metadata columns
        import os
        golden = os.path.join(os.path.dirname(__file__), "..", "..",
                              "src", "test", "resources", "golden", "videos.parquet")
        vids = self.spark.read.parquet(golden)
        got = {(r["id"], r["frame_idx"], r["ts_ms"]) for r in
               P.sample_frames(vids, "video_id", "payload", k=4).collect()}
        expected = set()
        for r in vids.select("video_id", "n_frames", "duration_ms").collect():
            # guard duration_ms too: a fixture row with frames but no duration
            # would emit a null ts_ms on the Spark side — fail as a set diff,
            # not a TypeError in the expected-value computation
            if r["n_frames"] and r["n_frames"] > 0 and r["duration_ms"] is not None:
                for idx in {i * r["n_frames"] // 4 for i in range(4)}:
                    expected.add((r["video_id"], idx,
                                  idx * r["duration_ms"] // r["n_frames"]))
        self.assertEqual(got, expected)
        self.assertTrue(expected)

    def test_pipeline_curate(self):
        from graftspark import pipeline as P
        en = ("the cat and the dog walked to the park and it was a fine day "
              "for all of them to play in the sun with friends")
        docs = self.spark.createDataFrame([
            (1, en + " one"),
            (2, en + " one"),            # exact dup -> 3_exact
            (3, en + " one two"),        # near-dup -> 4_neardup
            (4, "le chat et le chien une promenade dans les rues pour une belle "
                "journee avec des amis et que la vie est bonne pour tous les gens"),
            (5, "it is x y"),            # too short -> 2_quality
        ], ["id", "text"])
        curated, report = P.curate(
            docs, "id", "text", keep_langs=["en"],
            min_tokens=5, max_tokens=1000,
            min_avg_token_len=1.0, max_avg_token_len=10.0,
            min_stopword_ratio=0.01, max_top_bigram_fraction=0.9)
        counts = {r["stage"]: r["n_rows"] for r in report.collect()}
        self.assertEqual(counts, {"0_input": 5, "1_langid": 4, "2_quality": 3,
                                  "3_exact": 2, "4_neardup": 1})
        self.assertEqual([r["id"] for r in curated.select("id").collect()], [1])
        self.assertEqual(curated.columns, ["id", "text"])
        # classifier stage: all-(-1) weights with threshold 1 reject everything
        _, report2 = P.curate(
            docs, "id", "text", keep_langs=[],
            min_tokens=1, max_tokens=1000,
            min_avg_token_len=1.0, max_avg_token_len=10.0,
            min_stopword_ratio=0.0, max_top_bigram_fraction=1.0,
            classifier_weights=[-1] * 256, classifier_threshold=1)
        counts2 = {r["stage"]: r["n_rows"] for r in report2.collect()}
        self.assertEqual(counts2["2b_classifier"], 0)

    def test_pipeline_sql_registration(self):
        from graftspark import pipeline as P
        P.register_sql_functions(self.spark)
        row = self.spark.sql(
            "SELECT tokenize_ascii('A b C') AS toks, top_ngram_stats('x y x y', 2) AS g2"
        ).collect()[0]
        self.assertEqual(row["toks"], ["a", "b", "c"])
        self.assertEqual(row["g2"], [3, 2])

    def test_pipeline_canonicalize_text(self):
        from graftspark import pipeline as P
        df = self.spark.createDataFrame(
            [("cafe\u0301  x\tY ",), ("a\u0001b",)], ["t"])
        got = [r["n"] for r in
               df.select(P.canonicalize_text("t").alias("n")).collect()]
        self.assertEqual(got, ["café x Y", "ab"])

    def test_pipeline_vector_functions(self):
        from graftspark import pipeline as P
        from pyspark.sql.types import (ArrayType, FloatType, IntegerType,
                                       StructField, StructType)
        schema = StructType([
            StructField("id", IntegerType()),
            StructField("vec", ArrayType(FloatType()))])
        df = self.spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 0.001])], schema)
        sims = (df.alias("a").crossJoin(df.alias("b"))
                .select(col("a.id").alias("ia"), col("b.id").alias("ib"),
                        P.cosine_similarity(col("a.vec"), col("b.vec")).alias("cos"))
                .collect())
        by_pair = {(r["ia"], r["ib"]): r["cos"] for r in sims}
        self.assertAlmostEqual(by_pair[(1, 1)], 1.0, places=6)
        self.assertAlmostEqual(by_pair[(1, 2)], 0.0, places=6)
        self.assertGreater(by_pair[(1, 3)], 0.99)
        topk = P.brute_force_top_k(
            df, df, col("id"), col("vec"), col("id"), col("vec"), 1).collect()
        best = {r["query_id"]: r["neighbor_id"] for r in topk}
        self.assertEqual(best[1], 3)
        self.assertEqual(best[3], 1)

    def test_pipeline_retrieval_and_span_operators(self):
        from graftspark import pipeline as P
        docs = self.spark.createDataFrame(
            [(1, "a b c d e"), (2, "z a b c y"), (3, "x x x x q"),
             (4, "p q r s t")], ["doc_id", "text"])
        stats = {r["doc_id"]: r for r in P.repeated_span_stats(
            docs, col("doc_id"), col("text"), 3).collect()}
        self.assertEqual(
            (stats[1]["dup_windows"], stats[1]["covered_tokens"]), (1, 3))
        self.assertEqual(
            (stats[3]["dup_windows"], stats[3]["covered_tokens"]), (2, 4))
        self.assertEqual(stats[4]["dup_windows"], 0)
        clean = {r["doc_id"]: r for r in P.remove_repeated_spans(
            docs, col("doc_id"), col("text"), 3).collect()}
        self.assertEqual(clean[1]["clean_text"], "d e")
        self.assertEqual(clean[3]["clean_text"], "q")
        self.assertEqual(clean[4]["removed_tokens"], 0)

        # BM25: same hand-computed corpus as the Scala suite — idf_bits of a
        # term in 2 of 3 docs is 0, doc1's "cat" contributes exactly 1.375
        bdocs = self.spark.createDataFrame(
            [(1, "cat dog cat"), (2, "dog bird"), (3, "fish fish fish fish")],
            ["doc_id", "text"])
        queries = self.spark.createDataFrame(
            [(0, ["cat", "dog"])], ["query_id", "terms"])
        got = P.bm25_top_k(bdocs, col("doc_id"), col("text"),
                           queries, col("query_id"), col("terms"), 10).collect()
        ranked = sorted(((r["rank"], r["doc_id"], r["score"]) for r in got))
        self.assertEqual(ranked, [(1, 1, 1.375), (2, 2, 0.0)])

    def test_pipeline_classifier_score(self):
        import hashlib
        from graftspark import pipeline as P
        weights = [((i * 31 + 3) % 11) - 5 for i in range(256)]

        def local_logit(text):
            toks = [t for t in __import__("re").split(r"[^a-z0-9]+", text.lower()) if t]
            feats = toks + [" ".join(p) for p in zip(toks, toks[1:])]
            return sum(weights[hashlib.md5(f.encode()).digest()[0]] for f in feats)

        docs = self.spark.createDataFrame(
            [(1, "Cat dog CAT"), (2, "one"), (3, "a b c d")], ["doc_id", "text"])
        got = {r["doc_id"]: r for r in P.classifier_score(
            docs, col("text"), weights).collect()}
        for doc_id, text in [(1, "Cat dog CAT"), (2, "one"), (3, "a b c d")]:
            self.assertEqual(got[doc_id]["logit"], local_logit(text))
            self.assertEqual(got[doc_id]["keep"], got[doc_id]["logit"] >= 0)

    def test_pipeline_dsir(self):
        import hashlib
        import re
        from graftspark import pipeline as P

        def feats(text):
            toks = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
            return toks + [" ".join(p) for p in zip(toks, toks[1:])]

        def bits(x):
            return x.bit_length() - 1

        target_docs = ["alpha beta gamma", "alpha alpha beta"]
        raw_docs = target_docs + ["zeta eta theta", "theta theta zeta"]
        target = self.spark.createDataFrame(
            list(enumerate(target_docs)), ["id", "text"])
        raw = self.spark.createDataFrame(
            list(enumerate(raw_docs)), ["id", "text"])

        t_cnt, r_cnt = [0] * 256, [0] * 256
        for d in target_docs:
            for g in feats(d):
                t_cnt[hashlib.md5(g.encode()).digest()[0]] += 1
        for d in raw_docs:
            for g in feats(d):
                r_cnt[hashlib.md5(g.encode()).digest()[0]] += 1
        t_tot = sum(c + 1 for c in t_cnt)
        r_tot = sum(c + 1 for c in r_cnt)
        expected = [bits(t_cnt[b] + 1) - bits(t_tot) - bits(r_cnt[b] + 1) + bits(r_tot)
                    for b in range(256)]

        fitted = P.dsir_fit_weights(target, raw, col("text"), col("text"))
        self.assertEqual(fitted, expected)
        wt = {r["bucket"]: r for r in P.dsir_weight_table(
            target, raw, col("text"), col("text")).collect()}
        self.assertEqual(len(wt), 256)
        for b in range(256):
            self.assertEqual(wt[b]["weight"], expected[b])
            self.assertEqual(wt[b]["target_cnt"], t_cnt[b])

        scored = {r["id"]: r["dsir_score"] for r in P.dsir_score(
            raw, col("text"), fitted).collect()}
        for i, d in enumerate(raw_docs):
            self.assertEqual(scored[i],
                             sum(expected[hashlib.md5(g.encode()).digest()[0]]
                                 for g in feats(d)))
        top = P.dsir_select_top(raw, col("id"), col("text"), fitted, 2)
        self.assertEqual({r["id"] for r in top.collect()}, {0, 1})

    def test_pipeline_dsir_portable_hash_parity(self):
        from graftspark import pipeline as P
        target = self.spark.createDataFrame(
            [(0, "alpha beta gamma"), (1, "alpha alpha beta")], ["id", "text"])
        raw = self.spark.createDataFrame(
            [(0, "alpha beta gamma"), (1, "alpha alpha beta"),
             (2, "zeta eta theta"), (3, "theta theta zeta")], ["id", "text"])
        # the weight table must expose the SAME fit as dsir_fit_weights under
        # the xxhash production bucketing, so a production fit is auditable
        fitted = P.dsir_fit_weights(target, raw, col("text"), col("text"),
                                    portable_hash=False)
        wt = {r["bucket"]: r["weight"] for r in P.dsir_weight_table(
            target, raw, col("text"), col("text"), portable_hash=False).collect()}
        self.assertEqual([wt[b] for b in range(256)], fitted)
        # and the two bucket families are genuinely different fits
        md5_fit = P.dsir_fit_weights(target, raw, col("text"), col("text"))
        self.assertNotEqual(fitted, md5_fit)
        # scoring under the matching family reproduces end to end
        sc = {r["id"]: r["dsir_score"] for r in P.dsir_score(
            raw, col("text"), fitted, portable_hash=False).collect()}
        self.assertTrue(all(isinstance(v, int) for v in sc.values()))

    def test_pipeline_curate_dsir_portable_hash(self):
        from graftspark import pipeline as P
        en = ("the cat and the dog walked to the park and it was a fine day "
              "for all of them to play in the sun with friends")
        docs = self.spark.createDataFrame(
            [(i, en + f" extra {i} tokens appended") for i in range(6)],
            ["id", "text"])
        target = docs.limit(2)
        w = P.dsir_fit_weights(target, docs, col("text"), col("text"),
                               portable_hash=False)
        _, report = P.curate(
            docs, "id", "text", keep_langs=[],
            min_tokens=1, max_tokens=1000,
            min_avg_token_len=1.0, max_avg_token_len=10.0,
            min_stopword_ratio=0.0, max_top_bigram_fraction=1.0,
            dsir_weights=w, dsir_threshold=1,
            dsir_portable_hash=False)
        counts = {r["stage"]: r["n_rows"] for r in report.collect()}
        expected = P.dsir_score(docs, col("text"), w, portable_hash=False) \
            .filter(col("dsir_score") >= 1).count()
        self.assertEqual(counts["2c_dsir"], expected)

    def test_pipeline_curate_rejects_positional_config(self):
        from graftspark import pipeline as P
        docs = self.spark.createDataFrame([(1, "x")], ["id", "text"])
        # config params are keyword-only: adding parameters can never again
        # silently shift a positional call's meaning
        with self.assertRaises(TypeError):
            P.curate(docs, "id", "text", ["en"])

    def test_pipeline_vocab_coverage(self):
        from graftspark import pipeline as P
        docs = self.spark.createDataFrame(
            [(1, "the cat sat on the mat"), (2, "zyx wvu qrs"), (3, "")],
            ["id", "text"])
        top = P.vocab_top_tokens(docs, col("text"), 2).collect()
        self.assertEqual([(r["token"], r["cnt"]) for r in top],
                         [("the", 2), ("cat", 1)])
        rep = {r["id"]: r for r in P.vocab_coverage_report(
            docs, col("id"), col("text"), ["the", "cat", "dog"]).collect()}
        self.assertEqual(rep[1]["n_tokens"], 6)
        self.assertEqual(rep[1]["n_in_vocab"], 3)
        self.assertEqual(rep[2]["n_in_vocab"], 0)
        self.assertEqual(rep[3]["oov_rate"], 0.0)
        rep2 = {r["id"]: r["n_in_vocab"] for r in P.vocab_self_coverage_report(
            docs, col("id"), col("text"), 2).collect()}
        self.assertEqual(rep2, {1: 3, 2: 0, 3: 0})

    def test_pipeline_strip_html(self):
        from graftspark import pipeline as P
        df = self.spark.createDataFrame(
            [("<html><style>x{}</style><script>var a;</script>"
              "<!-- c --><p>Hi&nbsp;&lt;b&gt; &amp;amp; bye&#33;</p></html>",),
             ("plain   text",)], ["t"])
        got = [r["c"] for r in df.select(P.strip_html(col("t")).alias("c")).collect()]
        # entities decode after stripping; &amp;amp; decodes once; &#33; -> space
        self.assertEqual(got, ["Hi <b> &amp; bye", "plain text"])
        # mojibake repair: classic corruption fixed, clean text untouched
        moji = self.spark.createDataFrame(
            [("cafÃ©",), ("café plain",)], ["t"])
        fixed = [r["c"] for r in
                 moji.select(P.fix_mojibake(col("t")).alias("c")).collect()]
        self.assertEqual(fixed, ["café", "café plain"])

    def test_pipeline_quality_checks(self):
        from graftspark import pipeline as P
        df = self.spark.createDataFrame(
            [(1, 10.0, "ok"), (2, 20.0, "ok"), (3, None, "bad!"), (3, 999.0, "ok")],
            ["id", "v", "s"])
        got = [(r["rule"], r["column"], r["metric"], r["pass"])
               for r in P.quality_checks(df, [
                   {"rule": "not_null", "column": "v", "max_null_fraction": 0.3},
                   {"rule": "unique", "column": "id"},
                   {"rule": "in_range", "column": "v", "min": 0, "max": 100},
                   {"rule": "matches_regex", "column": "s", "pattern": "^ok$",
                    "min_match_fraction": 0.7},
                   {"rule": "min_rows", "min_rows": 4}]).collect()]
        self.assertEqual(got, [
            ("not_null", "v", 0.25, True),
            ("unique", "id", 1.0, False),
            ("in_range", "v", 1.0, False),
            ("matches_regex", "s", 0.75, True),
            ("min_rows", "", 4.0, True)])

    def test_pipeline_payload_dedup(self):
        from graftspark import pipeline as P
        df = self.spark.createDataFrame(
            [(1, bytearray(b"abc")), (2, bytearray(b"xy")), (3, bytearray(b"abc"))],
            ["id", "payload"])
        kept = sorted(r["id"] for r in P.drop_exact_payload_duplicates(
            df, col("id"), col("payload")).collect())
        self.assertEqual(kept, [1, 2])
        # CDC: two payloads sharing a 4000-byte block dedup at chunk level
        import random
        rng = random.Random(5)
        base = bytes(rng.randrange(256) for _ in range(4000))
        two = self.spark.createDataFrame(
            [(1, bytearray(base)), (2, bytearray(base + b"tail!"))],
            ["id", "payload"])
        ch = two.select(P.cdc_chunks(
            col("payload"), avg_bits=5, min_size=16, max_size=128).alias("c")) \
            .select("c.sizes").collect()
        self.assertEqual(sorted(sum(r["sizes"]) for r in ch), [4000, 4005])
        rep = P.chunk_dedup_report(two, col("payload"), avg_bits=5,
                                   min_size=16, max_size=128).collect()[0]
        self.assertEqual(rep["total_bytes"], 8005)
        self.assertGreater(rep["dedup_ratio"], 0.4)
        pairs = P.payload_near_dup_pairs(
            two, col("id"), col("payload"), avg_bits=5,
            min_size=16, max_size=128).collect()
        self.assertEqual([(r["idA"], r["idB"]) for r in pairs], [(1, 2)])
        self.assertGreater(pairs[0]["containment"], 0.9)

    def test_pipeline_novelty_profile(self):
        from graftspark import pipeline as P
        from pyspark.sql.functions import col
        docs = self.spark.createDataFrame(
            [(1, "the quick brown fox jumps"),
             (2, "the quick brown fox sleeps"),
             (3, "totally unrelated text here")], ["doc_id", "text"])
        prof = {r["id"]: (r["n_grams"], r["dup_grams"])
                for r in P.novelty_profile(
                    docs, col("doc_id"), col("text"), 3).collect()}
        self.assertEqual(prof, {1: (3, 2), 2: (3, 2), 3: (2, 0)})
        hashed = {r["id"]: (r["n_grams"], r["dup_grams"])
                  for r in P.novelty_profile(
                      docs, col("doc_id"), col("text"), 3, hashed=True).collect()}
        self.assertEqual(hashed, prof)
        mass = P.duplicate_gram_mass(docs, col("text"), 3).collect()[0]
        self.assertEqual((mass["gram_occurrences"], mass["distinct_grams"],
                          mass["dup_occurrences"], mass["distinct_dup_grams"]),
                         (8, 6, 4, 2))
        # script-mix profile: [total, latin, cyr, greek, arabic, cjk, digit]
        sp = self.spark.createDataFrame(
            [("héllo мир 9",)], ["t"]).select(
            P.script_profile(col("t")).alias("p")).collect()[0]["p"]
        self.assertEqual(list(sp), [11, 5, 3, 0, 0, 0, 1])
        # multi-pattern AC scan: nested patterns all fire, ids ascending
        mp = self.spark.createDataFrame([("the scan slowed",)], ["t"]).select(
            P.matched_patterns(col("t"), ["scan slow", "scan", "can", "zz"])
            .alias("m")).collect()[0]["m"]
        self.assertEqual(list(mp), [0, 1, 2])
        # readability: one-pass Flesch counters + exact score formula
        rr = self.spark.createDataFrame([("The cat sat.",)], ["t"]).select(
            P.readability_stats(col("t")).alias("r"),
            P.flesch_score(col("t")).alias("f")).collect()[0]
        self.assertEqual(list(rr["r"]), [3, 1, 3])
        self.assertAlmostEqual(rr["f"], 206.835 - 1.015 * 3.0 - 84.6)
        # masking twin: leftmost-longest non-overlapping, in-place
        mk = self.spark.createDataFrame([("a scan can be scanned",)], ["t"]).select(
            P.mask_patterns(col("t"), ["scan", "can"], "#").alias("m")
        ).collect()[0]["m"]
        self.assertEqual(mk, "a # # be #ned")
        # adaptive per-group cut: 5-row group keeps ceil(1.5)=2, 1-row keeps 1
        cut = P.top_fraction_per_group(
            self.spark.createDataFrame(
                [("a", i, float(i)) for i in range(1, 6)] + [("b", 9, 1.0)],
                ["g", "id", "v"]),
            [col("g")], [col("v").desc(), col("id")], 0.3)
        self.assertEqual(sorted((r["g"], r["id"]) for r in cut.collect()),
                         [("a", 4), ("a", 5), ("b", 9)])
        # the approximate (no-sort) path tracks exact within tolerance
        adf = self.spark.createDataFrame(
            [("a", i, float(i % 97)) for i in range(200)] + [("b", 900, 1.0)],
            ["g", "id", "v"])
        acut = P.approx_top_fraction_per_group(adf, [col("g")], col("v"), 0.3)
        counts = {r["g"]: r["n"] for r in
                  acut.groupBy("g").agg(expr("count(*) AS n")).collect()}
        self.assertTrue(abs(counts["a"] - 60) <= 8, counts)
        self.assertEqual(counts["b"], 1)

    def test_pipeline_key_skew_report(self):
        from graftspark import pipeline as P
        df = self.spark.createDataFrame(
            [("a",)] * 6 + [("b",)] * 3 + [("c",)], ["k"])
        got = [(r["key"], r["cnt"], r["share"], r["rank"])
               for r in P.key_skew_report(df, col("k"), 2).collect()]
        self.assertEqual(got, [("a", 6, 0.6, 1), ("b", 3, 0.3, 2)])

    def test_pipeline_hll_sketches(self):
        from graftspark import pipeline as P
        df = self.spark.createDataFrame(
            [("g", i % 50) for i in range(300)], ["g", "v"])
        # sketch two halves independently, merge — the per-day persist shape
        a = P.hll_sketches(df.filter(col("v") % 2 == 0), col("g"), col("v"))
        b = P.hll_sketches(df.filter(col("v") % 2 == 1), col("g"), col("v"))
        est = P.merge_hll_sketches(a.unionByName(b), col("g")).collect()
        self.assertEqual(len(est), 1)
        self.assertLessEqual(abs(est[0]["distinct_estimate"] - 50), 3)

    def test_pipeline_blocklist_artifact(self):
        import tempfile
        from graftspark import pipeline as P
        block = self.spark.createDataFrame(
            [("one two three four five six seven eight nine ten",)], ["text"])
        corpus = self.spark.createDataFrame(
            [(1, "one two three four five six seven eight nine ten leaked"),
             (2, "totally unrelated clean content here")], ["id", "text"])
        d = tempfile.mkdtemp()
        P.build_blocklist_artifact(block, col("text"), d, shingle_size=5)
        kept = sorted(r["id"] for r in P.decontaminate_with_artifact(
            corpus, col("text"), d, shingle_size=5).collect())
        self.assertEqual(kept, [2])

    def test_pipeline_index_persistence(self):
        import random
        import tempfile
        from pyspark.sql.types import (ArrayType, FloatType, LongType,
                                       StructField, StructType)
        from graftspark import pipeline as P
        rng = random.Random(3)
        rows = [(i, [float(rng.gauss(0, 1)) for _ in range(8)]) for i in range(40)]
        schema = StructType([StructField("id", LongType()),
                             StructField("vec", ArrayType(FloatType()))])
        df = self.spark.createDataFrame(rows, schema)
        d = tempfile.mkdtemp()
        ix = P.train_ivf(df, col("id"), col("vec"), k=4, iterations=2)
        P.save_ivf(self.spark, ix, d + "/ivf")
        ix2 = P.load_ivf(self.spark, d + "/ivf")
        a1 = sorted((r["id"], r["cid"]) for r in P.ivf_assign(
            df, col("id"), col("vec"), ix).collect())
        a2 = sorted((r["id"], r["cid"]) for r in P.ivf_assign(
            df, col("id"), col("vec"), ix2).collect())
        self.assertEqual(a1, a2)
        pq = P.train_pq(df, col("id"), col("vec"), dim=8, m=2, ksub=4, iterations=2)
        P.save_pq(self.spark, pq, d + "/pq")
        pq2 = P.load_pq(self.spark, d + "/pq")
        def topk(ix_):
            return sorted((r["query_id"], r["rank"], r["neighbor_id"])
                          for r in P.pq_top_k(df.filter(col("id") < 3), df,
                                              col("id"), col("vec"), col("id"),
                                              col("vec"), ix_, 3, 6).collect())
        self.assertEqual(topk(pq), topk(pq2))
        # full serving state: indexed IVFADC == in-memory IVFADC
        P.save_ann_index(df, col("id"), col("vec"), ix, pq, d + "/ann")
        mem = sorted((r["query_id"], r["rank"], r["neighbor_id"])
                     for r in P.ivf_pq_top_k(
                         df.filter(col("id") < 3), df, col("id"), col("vec"),
                         col("id"), col("vec"), ix, pq, 3, nprobe=2,
                         refine=4).collect())
        via = sorted((r["query_id"], r["rank"], r["neighbor_id"])
                     for r in P.ivf_pq_top_k_indexed(
                         df.filter(col("id") < 3), col("id"), col("vec"),
                         d + "/ann", 3, nprobe=2, refine=4).collect())
        self.assertEqual(mem, via)

    def test_pipeline_dedup_index(self):
        import tempfile
        from graftspark import pipeline as P
        base = ("doc %d alpha beta gamma delta epsilon zeta eta theta iota "
                "kappa lambda mu nu xi omicron pi rho sigma tau upsilon")
        ref = self.spark.createDataFrame(
            [(i, base % i) for i in range(10)], ["id", "text"])
        batch = self.spark.createDataFrame(
            [(103, (base % 3).replace("gamma", "gamma2")),
             (200, "entirely fresh text about quasars and neutron stars here")],
            ["id", "text"])
        d = tempfile.mkdtemp() + "/idx"
        P.save_dedup_index(ref, col("id"), col("text"), d)
        pairs = P.near_dup_pairs_against_index(
            batch, col("id"), col("text"), d, threshold=0.7).collect()
        self.assertEqual([(r["idA"], r["idB"]) for r in pairs], [(103, 3)])
        kept = P.deduplicate_against_index(
            batch, col("id"), col("text"), d, threshold=0.7).collect()
        self.assertEqual([r["id"] for r in kept], [200])
        # ingest loop: append the survivor, the next batch sees it
        P.append_to_dedup_index(
            self.spark.createDataFrame(
                [(r["id"], r["text"]) for r in kept], ["id", "text"]),
            col("id"), col("text"), d)
        again = P.near_dup_pairs_against_index(
            self.spark.createDataFrame(
                [(500, "entirely fresh text about quasars and neutron stars here")],
                ["id", "text"]),
            col("id"), col("text"), d, threshold=0.7).collect()
        self.assertEqual([(r["idA"], r["idB"]) for r in again], [(500, 200)])

    def test_pipeline_curate_increment(self):
        import tempfile
        from graftspark import pipeline as P
        en = ("the cat and the dog walked to the park and it was a fine day "
              "for all of them to play in the sun with friends")
        ref = self.spark.createDataFrame(
            [(100, en + " reference edition")], ["id", "text"])
        d = tempfile.mkdtemp() + "/idx"
        P.save_dedup_index(ref, col("id"), col("text"), d)
        batch = self.spark.createDataFrame(
            [(1, en + " fresh batch one content words here"),
             (2, en + " reference edition extra")], ["id", "text"])
        survivors, report = P.curate_increment(
            batch, col("id"), col("text"), d,
            keep_langs=["en"], min_tokens=5, max_tokens=1000,
            min_avg_token_len=1.0, max_avg_token_len=10.0,
            min_stopword_ratio=0.01, max_top_bigram_fraction=0.9)
        self.assertEqual([r["id"] for r in survivors.collect()], [1])
        stages = {r["stage"]: r["n_rows"] for r in report.collect()}
        self.assertEqual(stages["5_neardup_index"], 1)
        # the appended survivor guards the next batch
        s2, _ = P.curate_increment(
            self.spark.createDataFrame(
                [(10, en + " fresh batch one content words here again")],
                ["id", "text"]),
            col("id"), col("text"), d,
            keep_langs=["en"], min_tokens=5, max_tokens=1000,
            min_avg_token_len=1.0, max_avg_token_len=10.0,
            min_stopword_ratio=0.01, max_top_bigram_fraction=0.9)
        self.assertEqual(s2.count(), 0)

    def test_pipeline_pq_ann(self):
        from graftspark import pipeline as P
        from pyspark.sql.types import (ArrayType, FloatType, LongType,
                                       StructField, StructType)
        import random
        rng = random.Random(7)
        centers = [[rng.gauss(0, 1) for _ in range(8)] for _ in range(4)]
        rows = []
        for i in range(48):
            c = centers[i % 4]
            rows.append((i, [float(x + rng.gauss(0, 0.05)) for x in c]))
        schema = StructType([StructField("id", LongType()),
                             StructField("vec", ArrayType(FloatType()))])
        df = self.spark.createDataFrame(rows, schema)
        index = P.train_pq(df, col("id"), col("vec"), dim=8, m=2, ksub=4,
                           iterations=3)
        enc = P.pq_encode(df, col("id"), col("vec"), index).collect()
        self.assertEqual(len(enc), 48)
        self.assertTrue(all(len(r["codes"]) == 2 for r in enc))
        queries = df.filter(col("id") < 4)
        brute = {(r["query_id"], r["neighbor_id"]) for r in P.brute_force_top_k(
            queries, df, col("id"), col("vec"), col("id"), col("vec"), 3).collect()}
        approx = {(r["query_id"], r["neighbor_id"]) for r in P.pq_top_k(
            queries, df, col("id"), col("vec"), col("id"), col("vec"),
            index, 3, refine=4).collect()}
        recall = len(brute & approx) / len(brute)
        self.assertGreaterEqual(recall, 0.8)

    def test_pipeline_ivf_pq_ann(self):
        from graftspark import pipeline as P
        from pyspark.sql.types import (ArrayType, FloatType, LongType,
                                       StructField, StructType)
        import random
        rng = random.Random(13)
        centers = [[rng.gauss(0, 1) for _ in range(8)] for _ in range(4)]
        rows = []
        for i in range(48):
            c = centers[i % 4]
            rows.append((i, [float(x + rng.gauss(0, 0.05)) for x in c]))
        schema = StructType([StructField("id", LongType()),
                             StructField("vec", ArrayType(FloatType()))])
        df = self.spark.createDataFrame(rows, schema)
        queries = df.filter(col("id") < 4)
        ivf = P.train_ivf(df, col("id"), col("vec"), k=4, iterations=3)
        pq = P.train_pq(df, col("id"), col("vec"), dim=8, m=2, ksub=4,
                        iterations=3)

        def rows_of(jdf):
            return sorted((r["query_id"], r["rank"], r["neighbor_id"])
                          for r in jdf.collect())
        # probing ALL buckets must reproduce plain pq_top_k row for row
        full = rows_of(P.pq_top_k(queries, df, col("id"), col("vec"),
                                  col("id"), col("vec"), pq, 3, refine=4))
        probe_all = rows_of(P.ivf_pq_top_k(
            queries, df, col("id"), col("vec"), col("id"), col("vec"),
            ivf, pq, 3, nprobe=4, refine=4))
        self.assertEqual(probe_all, full)

        # residual codes: train on residuals, query with residual=True
        res = P.train_pq_residual(df, col("id"), col("vec"), ivf,
                                  dim=8, m=2, ksub=4, iterations=3)
        got = P.ivf_pq_top_k(queries, df, col("id"), col("vec"),
                             col("id"), col("vec"), ivf, res, 3,
                             nprobe=4, refine=4, residual=True)
        brute = {(r["query_id"], r["neighbor_id"]) for r in P.brute_force_top_k(
            queries, df, col("id"), col("vec"), col("id"), col("vec"), 3).collect()}
        approx = {(r["query_id"], r["neighbor_id"]) for r in got.collect()}
        self.assertGreaterEqual(len(brute & approx) / len(brute), 0.8)

        # residual encode surface: one (cid, codes, cnorm) row per vector
        enc = P.pq_encode_residual(df, col("id"), col("vec"), ivf, res).collect()
        self.assertEqual(len(enc), 48)
        self.assertTrue(all(len(r["codes"]) == 2 and r["cnorm"] >= 0.0
                            for r in enc))

        # a residual index round-trips through save_pq/load_pq bit-exactly
        d = tempfile.mkdtemp()
        P.save_pq(self.spark, res, d + "/rpq")
        res2 = P.load_pq(self.spark, d + "/rpq")
        got2 = P.ivf_pq_top_k(queries, df, col("id"), col("vec"),
                              col("id"), col("vec"), ivf, res2, 3,
                              nprobe=4, refine=4, residual=True)
        self.assertEqual(rows_of(got), rows_of(got2))

    def test_pipeline_opq_rotation(self):
        from graftspark import pipeline as P
        from pyspark.sql.types import (ArrayType, FloatType, LongType,
                                       StructField, StructType)
        import math
        rows = []
        for i in range(60):
            a, b = math.sin(i * 0.7), math.cos(i * 1.3)
            rows.append((i, [float(x) for x in
                             (a + 0.9 * b, 0.9 * a + b, a - 0.9 * b,
                              0.9 * a - b, 0.2 * a, 0.2 * b,
                              0.1 * math.sin(i * 3.7), 0.1 * math.cos(i * 4.3))]))
        schema = StructType([StructField("id", LongType()),
                             StructField("vec", ArrayType(FloatType()))])
        df = self.spark.createDataFrame(rows, schema)
        rot = P.train_rotation(df, col("vec"), dim=8, m=2)
        # rotation preserves norms (orthonormal)
        both = df.select(P.dot_product(col("vec"), col("vec")).alias("n0"),
                         P.dot_product(P.rotate_vec(col("vec"), rot),
                                       P.rotate_vec(col("vec"), rot)).alias("n1")
                         ).collect()
        for r in both:
            self.assertAlmostEqual(r["n0"], r["n1"], places=3)
        # rotated PQ reaches the brute-force neighbors
        queries = df.filter(col("id") < 4)
        pq = P.train_pq_rotated(df, col("id"), col("vec"), rot,
                                dim=8, m=2, ksub=8, iterations=3)
        got = {(r["query_id"], r["neighbor_id"]) for r in P.pq_top_k_rotated(
            queries, df, col("id"), col("vec"), col("id"), col("vec"),
            rot, pq, 3, refine=4).collect()}
        brute = {(r["query_id"], r["neighbor_id"]) for r in P.brute_force_top_k(
            queries, df, col("id"), col("vec"), col("id"), col("vec"), 3).collect()}
        self.assertGreaterEqual(len(brute & got) / len(brute), 0.5)
        # rotation round-trips through save/load bit-exactly
        d = tempfile.mkdtemp()
        P.save_rotation(self.spark, rot, d + "/rot")
        rot2 = P.load_rotation(self.spark, d + "/rot")
        got2 = {(r["query_id"], r["neighbor_id"]) for r in P.pq_top_k_rotated(
            queries, df, col("id"), col("vec"), col("id"), col("vec"),
            rot2, pq, 3, refine=4).collect()}
        self.assertEqual(got, got2)

    def test_pipeline_hilbert_and_cms(self):
        from graftspark import pipeline as P
        from pyspark.sql.functions import broadcast, count, lit
        # hilbert re-layout preserves the data exactly
        src = self.spark.createDataFrame(
            [(i, (i * 7) % 50, (i * 13) % 50) for i in range(200)],
            ["id", "x", "y"])
        laid = P.hilbert_order_by(src, ["x", "y"], partitions=4)
        self.assertEqual(sorted(r["id"] for r in laid.collect()),
                         list(range(200)))
        # count-min: estimate >= exact always; exact when the sketch is wide
        words = self.spark.createDataFrame(
            [(f"w{i % 23}",) for i in range(300)] + [("hot",)] * 40, ["k"])
        sk = words.agg(P.cms_sketch(col("k"), 4, 2048).alias("sk"))
        got = (words.groupBy("k").agg(count(lit(1)).alias("n"))
               .crossJoin(broadcast(sk))
               .select(col("k"), col("n"),
                       P.cms_estimate(col("sk"), col("k"), 4, 2048).alias("est"))
               .collect())
        self.assertTrue(all(r["est"] >= r["n"] for r in got))
        hot = [r for r in got if r["k"] == "hot"][0]
        self.assertEqual(hot["n"], 40)
        self.assertEqual(hot["est"], 40)
        # bloom sidecar: pruned read == plain filtered read, files skipped
        d = tempfile.mkdtemp() + "/data"
        (self.spark.createDataFrame(
            [(i, f"p{i}") for i in range(4000)], ["key", "payload"])
         .repartitionByRange(8, col("key")).write.parquet(d))
        P.write_bloom_index(self.spark, d, "key", log_bits=18, k=5)
        rep = P.bloom_pruning_report(self.spark, d, "key", ["17"]).collect()
        self.assertEqual(len(rep), 8)
        self.assertLess(sum(1 for r in rep if r["keep"]), 8)
        got_b = sorted(r["payload"] for r in
                       P.bloom_pruned_parquet(self.spark, d, "key",
                                              ["17", "3999"]).collect())
        self.assertEqual(got_b, ["p17", "p3999"])

    def test_pipeline_manifest_and_hard_negatives(self):
        from graftspark import pipeline as P
        # manifest: clean verify, then a deleted file flips all_ok
        d = tempfile.mkdtemp() + "/snap"
        src = self.spark.createDataFrame(
            [(i, f"t{i}") for i in range(1000)], ["id", "text"]).repartition(3)
        P.write_with_manifest(src, d)
        s = P.verify_manifest_summary(self.spark, d).collect()[0]
        self.assertEqual(s["total_rows"], 1000)
        self.assertTrue(s["all_ok"])
        import os
        victim = [f for f in os.listdir(d)
                  if f.endswith(".parquet") and not f.startswith("_")][0]
        os.remove(os.path.join(d, victim))
        self.assertFalse(
            P.verify_manifest_summary(self.spark, d).collect()[0]["all_ok"])
        bad = P.verify_manifest(self.spark, d).where("NOT ok").collect()
        self.assertEqual(len(bad), 1)
        # hard negatives: the positive vanishes, survivors renumber from 1
        docs = self.spark.createDataFrame(
            [(1, "hash table hash table hash"), (2, "hash table scan"),
             (3, "hash join"), (4, "table of contents")], ["doc_id", "text"])
        queries = self.spark.createDataFrame(
            [(0, ["hash", "table"])], ["query_id", "terms"])
        pos = self.spark.createDataFrame([(0, 1)], ["query_id", "doc_id"])
        negs = P.mine_hard_negatives(
            docs, "doc_id", "text", queries, "query_id", "terms",
            pos, "query_id", "doc_id", k=2).collect()
        self.assertEqual(sorted(r["neg_rank"] for r in negs), [1, 2])
        self.assertNotIn(1, [r["doc_id"] for r in negs])

    def test_register_extensions_bloom_skip(self):
        import graftspark as G
        from graftspark import pipeline as P
        import tempfile
        d = tempfile.mkdtemp() + "/d"
        df = self.spark.range(0, 4000).select(
            col("id").alias("key"), (col("id") % 7).alias("v"))
        df.repartitionByRange(8, col("key")).write.parquet(d)
        P.write_bloom_index(self.spark, d, "key", log_bits=16, k=5)
        G.register_extensions(self.spark)
        G.register_extensions(self.spark)  # idempotent
        # bloom skipping is opt-in (default off), like the zone-skip twin
        self.spark.conf.set("spark.graft.bloomSkip.enabled", "true")
        try:
            q = self.spark.read.parquet(d).where(col("key") == 1234)
            # the transparent rule prunes AND the answer is exact
            self.assertEqual([r["key"] for r in q.collect()], [1234])
        finally:
            self.spark.conf.unset("spark.graft.bloomSkip.enabled")
        # the SQL kernels rode along with the same registration call
        got = self.spark.sql(
            "SELECT decode_html_entities('a&amp;b') AS s").head()["s"]
        self.assertEqual(got, "a&b")
        # the zone-skip twin (opt-in conf) answers range lookups exactly
        self.spark.conf.set("spark.graft.zoneSkip.enabled", "true")
        try:
            zq = self.spark.read.parquet(d).where(
                (col("key") >= 100) & (col("key") < 110))
            self.assertEqual(sorted(r["key"] for r in zq.collect()),
                             list(range(100, 110)))
        finally:
            self.spark.conf.unset("spark.graft.zoneSkip.enabled")

    def test_pipeline_jsonl(self):
        from graftspark import pipeline as P
        import tempfile
        d = tempfile.mkdtemp()
        with open(d + "/x.jsonl", "w") as f:
            f.write('{"id": 1, "name": "a"}\n')
            f.write('{"id": 2}\n')
            f.write('broken {\n')
            f.write('{"id": "nope", "name": "c"}\n')
        parsed = P.jsonl_read_validated(self.spark, d + "/x.jsonl",
                                        "id BIGINT, name STRING")
        good = P.jsonl_good(parsed).orderBy("id").collect()
        self.assertEqual([r["id"] for r in good], [1, 2])
        self.assertIsNone(good[1]["name"])  # missing field stays clean
        bad = sorted(r["line"] for r in P.jsonl_quarantine(parsed).collect())
        # malformed syntax AND the type-mismatched id are both flagged
        self.assertEqual(bad, ['broken {', '{"id": "nope", "name": "c"}'])

    def test_pipeline_mrl(self):
        from graftspark import pipeline as P
        import math
        rows = []
        for i in range(24):
            base = [1.0 if d == i % 4 else 0.0 for d in range(8)]
            rows.append((i, [v + 0.01 * ((i * 31 + d) % 7) for d, v in
                             enumerate(base)]))
        df = self.spark.createDataFrame(rows, ["id", "vec"]) \
            .select(col("id"), col("vec").cast("array<float>").alias("vec"))
        q = df.where(col("id") < 4)
        full = {(r["query_id"], r["rank"], r["neighbor_id"]) for r in
                P.mrl_top_k(q, df, "id", "vec", "id", "vec",
                            k=3, dims=8, refine=4).collect()}
        brute = {(r["query_id"], r["rank"], r["neighbor_id"]) for r in
                 P.brute_force_top_k(q, df, "id", "vec", "id", "vec",
                                     k=3).collect()}
        self.assertEqual(full, brute)  # dims == full dimension: identical
        t = df.select(P.truncate_vec(col("vec"), 3).alias("t")).head()["t"]
        self.assertEqual(len(t), 3)

    def test_pipeline_sentence_chunks(self):
        from graftspark import pipeline as P
        df = self.spark.createDataFrame(
            [(1, "a b c. d e f. g h i. j k l.")], ["id", "t"])
        got = sorted(
            (r["chunk_id"], r["chunk_text"], r["n_tokens"])
            for r in P.chunk_by_sentences(df, "id", "t", 5).collect())
        self.assertEqual(got, [(0, "a b c. d e f.", 6),
                               (1, "g h i. j k l.", 6)])
        s = df.select(P.split_sentences(col("t")).alias("s")).head()["s"]
        self.assertEqual(s, ["a b c.", "d e f.", "g h i.", "j k l."])
        # id_name keeps the caller's own id column name
        named = P.chunk_by_sentences(
            df.withColumnRenamed("id", "doc_id"), "doc_id", "t", 5,
            id_name="doc_id")
        self.assertEqual(named.columns[0], "doc_id")

    def test_pipeline_schema_drift(self):
        from graftspark import pipeline as P
        import tempfile
        root = tempfile.mkdtemp()
        self.spark.createDataFrame([(1, "a", 1.0)], ["id", "x", "v"]) \
            .write.parquet(root + "/l")
        self.spark.createDataFrame([("1", "a", 2)], ["id", "x", "y"]) \
            .write.parquet(root + "/r")
        got = {r["column"]: r["status"]
               for r in P.schema_diff_dirs(self.spark, root + "/l",
                                           root + "/r").collect()}
        self.assertEqual(got, {"id": "type_changed", "x": "unchanged",
                               "v": "removed", "y": "added"})

    def test_pipeline_curriculum(self):
        from graftspark import pipeline as P
        df = self.spark.range(0, 20).select(
            col("id"), (col("id") * 7 % 100).alias("score"))
        out = P.curriculum_order(df, "id", "score", bands=2, salt="s").collect()
        self.assertEqual(sorted(r["order_id"] for r in out),
                         list(range(1, 21)))
        # bands respect the score rank: max of band 0 <= min of band 1
        b0 = max(r["score"] for r in out if r["band"] == 0)
        b1 = min(r["score"] for r in out if r["band"] == 1)
        self.assertLessEqual(b0, b1)
        # deterministic
        out2 = P.curriculum_order(df, "id", "score", bands=2, salt="s").collect()
        self.assertEqual(sorted(map(str, out)), sorted(map(str, out2)))
        # custom output names leave a caller's own 'band' column untouched
        withband = df.withColumn("band", col("id") * 0)
        out3 = P.curriculum_order(withband, "id", "score", bands=2, salt="s",
                                  band_col="cur_band", order_col="cur_order")
        self.assertIn("cur_order", out3.columns)
        self.assertTrue(all(r["band"] == 0 for r in out3.collect()))

    def test_pipeline_anonymity(self):
        from graftspark import pipeline as P
        df = self.spark.createDataFrame(
            [(1, "10001", "F", "flu"), (2, "10001", "F", "flu"),
             (3, "10001", "F", "cold"), (4, "10001", "M", "cold"),
             (5, "94xxx", "F", "rare")],
            ["id", "zip", "sex", "dx"])
        rep = {(r["zip"], r["sex"]): (r["combo_rows"], r["k_anonymous"])
               for r in P.k_anonymity_report(df, ["zip", "sex"], 2).collect()}
        self.assertEqual(rep[("10001", "F")], (3, True))
        self.assertEqual(rep[("94xxx", "F")], (1, False))
        kept = sorted(r["id"] for r in
                      P.suppress_rare_rows(df, ["zip", "sex"], 2).collect())
        rare = sorted(r["id"] for r in
                      P.rare_rows(df, ["zip", "sex"], 2).collect())
        self.assertEqual(kept, [1, 2, 3])
        self.assertEqual(rare, [4, 5])
        div = {r["zip"]: (r["distinct_sensitive"], r["l_diverse"]) for r in
               P.l_diversity_report(df, ["zip"], "dx", 2).collect()}
        self.assertEqual(div["10001"], (2, True))
        self.assertEqual(div["94xxx"], (1, False))

    def test_pipeline_csv(self):
        from graftspark import pipeline as P
        import tempfile
        d = tempfile.mkdtemp()
        with open(d + "/x.csv", "w") as f:
            f.write("1,a,1.0\n2,b\nx,c,3.0\n")
        parsed = P.csv_read_validated(self.spark, d + "/x.csv",
                                      "id BIGINT, name STRING, score DOUBLE")
        self.assertEqual(
            [r["id"] for r in P.jsonl_good(parsed).orderBy("id").collect()],
            [1])
        bad = sorted(r["line"] for r in P.jsonl_quarantine(parsed).collect())
        # arity mismatch AND type mismatch both flag (CSV is positional)
        self.assertEqual(bad, ["2,b", "x,c,3.0"])

    def test_pipeline_wordpiece(self):
        from graftspark import pipeline as P
        import tempfile
        docs = self.spark.createDataFrame(
            [(1, "the cat sat on the mat"), (2, "concatenation of categories"),
             (3, "the dog sat")], ["id", "text"])
        m = P.wordpiece_train(docs, "text", vocab_size=40)
        toks = docs.select(
            P.wordpiece_encode(col("text"), m).alias("p"),
            P.wordpiece_token_count(col("text"), m).alias("n")).collect()
        # training vocab never UNKs its own corpus; count matches the stream
        for r in toks:
            self.assertNotIn("[UNK]", r["p"])
            self.assertEqual(len(r["p"]), r["n"])
        d = tempfile.mkdtemp() + "/wp"
        P.save_wordpiece(self.spark, m, d)
        m2 = P.load_wordpiece(self.spark, d)
        a = [r["p"] for r in docs.select(
            P.wordpiece_encode(col("text"), m).alias("p")).collect()]
        b = [r["p"] for r in docs.select(
            P.wordpiece_encode(col("text"), m2).alias("p")).collect()]
        self.assertEqual(a, b)

    def test_pipeline_snapshot_diff(self):
        from graftspark import pipeline as P
        import tempfile
        left = self.spark.createDataFrame(
            [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0), (4, "c", 40.0)],
            ["id", "p", "v"])
        right = self.spark.createDataFrame(
            [(1, "a", 10.0), (2, "a", 21.0), (3, "b", 30.0), (5, "d", 50.0)],
            ["id", "p", "v"])
        ld = tempfile.mkdtemp() + "/l"
        rd = tempfile.mkdtemp() + "/r"
        P.write_partitioned_with_manifest(left, ld, ["p"])
        P.write_partitioned_with_manifest(right, rd, ["p"])
        st = {r["p"]: r["status"]
              for r in P.snapshot_changed_partitions(self.spark, ld, rd, ["p"]).collect()}
        self.assertEqual(st, {"a": "changed", "b": "unchanged",
                              "c": "removed", "d": "added"})
        d = P.diff_snapshots(self.spark, ld, rd, ["id"], ["p"])
        got = sorted((r["diff"], r["id"]) for r in d.collect())
        # partition b (id 3) never surfaces; id 1 is N inside changed 'a'
        self.assertEqual(got, [("C", 2), ("D", 4), ("I", 5), ("N", 1)])

    def test_pipeline_scd2_history(self):
        from graftspark import pipeline as P
        snaps = self.spark.createDataFrame(
            [(1, 1, "a"), (2, 1, "a"), (1, 2, "a"), (2, 2, "B"),
             (1, 3, "a"), (2, 3, "B"), (3, 3, "x")],
            ["id", "v", "attr"])
        h = P.history_from_snapshots(snaps, "v", ["id"])
        got = sorted((r["id"], r["attr"], r["valid_from"], r["valid_to"],
                      r["is_current"]) for r in h.collect())
        self.assertEqual(got, [
            (1, "a", 1, None, True),
            (2, "B", 2, None, True),
            (2, "a", 1, 2, False),
            (3, "x", 3, None, True)])
        back = sorted((r["id"], r["v"], r["attr"])
                      for r in P.history_snapshot_at(h, 2, "v").collect())
        self.assertEqual(back, [(1, 2, "a"), (2, 2, "B")])

    def test_pipeline_streaming_lateness(self):
        from graftspark import pipeline as P
        from pyspark.sql.functions import timestamp_micros
        import tempfile
        base = 1_000_000_000_000_000
        rows = [(base + i * 60_000_000,
                 base + i * 60_000_000 + (i % 3) * 120_000_000)
                for i in range(10)]
        d = tempfile.mkdtemp()
        self.spark.createDataFrame(rows, ["e", "i"]).select(
            timestamp_micros(col("e")).alias("ets"),
            timestamp_micros(col("i")).alias("its")).write.parquet(d + "/in")
        stream = self.spark.readStream.schema(
            self.spark.read.parquet(d + "/in").schema).parquet(d + "/in")
        out = P.streaming_lateness_by_window(
            stream, "ets", "its", "10 minutes", "0 seconds", [0, 150])
        q = (out.writeStream.format("memory").queryName("pylate")
             .outputMode("complete").start())
        try:
            q.processAllAvailable()
            from collections import defaultdict
            got = defaultdict(lambda: [0, 0])
            for r in self.spark.table("pylate").collect():
                got[r["delay_s"]][0] += r["events"]
                got[r["delay_s"]][1] += r["dropped"]
        finally:
            q.stop()
        self.assertEqual(tuple(got[0]), (10, 6))    # i%3 in {1,2} are late
        self.assertEqual(tuple(got[150]), (10, 3))  # only the 240s-late ones

    def test_pipeline_embedding_outliers(self):
        from graftspark import pipeline as P
        from pyspark.sql.types import (ArrayType, FloatType, LongType,
                                       StructField, StructType)
        schema = StructType([
            StructField("id", LongType()),
            StructField("vec", ArrayType(FloatType()))])
        rows = [(i, [1.0 if d == i % 2 else 0.01 * (i % 5) for d in range(8)])
                for i in range(40)]
        rows.append((99, [-1.0] * 8))  # planted junk
        df = self.spark.createDataFrame(rows, schema)
        ivf = P.train_ivf(df, "id", "vec", k=2, iterations=3)
        out = P.embedding_outliers(df, "id", "vec", ivf, 0.1).collect()
        flagged = {r["id"] for r in out if r["is_outlier"]}
        self.assertIn(99, flagged)
        self.assertEqual(len(out), 41)

    def test_pipeline_watermark_plan(self):
        from graftspark import pipeline as P
        from pyspark.sql.functions import timestamp_micros
        ev = self.spark.createDataFrame(
            [(0, 100), (1, 400), (2, 200), (3, 700), (4, 100)],
            ["arr", "sec"]).select(
            col("arr"), timestamp_micros(col("sec") * 1000000).alias("ts"))
        got = {r["delay_s"]: (r["events"], r["dropped"])
               for r in P.watermark_plan(ev, "arr", "ts", [0, 300]).collect()}
        self.assertEqual(got, {0: (5, 2), 300: (5, 1)})
        late = {r["arr"]: r["lateness_us"]
                for r in P.with_lateness(ev, "arr", "ts").collect()}
        self.assertEqual(late, {0: 0, 1: 0, 2: 200000000, 3: 0, 4: 600000000})

    def test_pipeline_length_bucket_batches(self):
        from graftspark import pipeline as P
        df = self.spark.createDataFrame(
            [(i, 10 + i % 5) for i in range(40)], ["id", "nt"])
        got = P.length_bucket_batches(df, "id", "nt", batch_size=4).collect()
        self.assertEqual(len(got), 40)
        for r in got:
            self.assertEqual(r["padded_to"], 16)  # 10..14 -> bucket 4
            self.assertTrue(0 <= r["pos_in_batch"] < 4)
        self.assertEqual(
            sorted(r["batch_id"] for r in got), sorted(i // 4 for i in range(40)))

    def test_pipeline_overlap_matrix(self):
        from graftspark import pipeline as P
        rows = ([("g0", i) for i in range(60)] +
                [("g1", i) for i in range(40, 100)] +
                [("g2", i) for i in range(90, 150)])
        df = self.spark.createDataFrame(rows, ["g", "v"])
        got = {(r["group_a"], r["group_b"]): (r["k_used"], r["n_both"])
               for r in P.overlap_matrix(df, "g", "v", 256).collect()}
        self.assertEqual(got[("g0", "g1")], (100, 20))
        self.assertEqual(got[("g0", "g2")], (120, 0))

    def test_pipeline_explain_near_dup(self):
        from graftspark import pipeline as P
        docs = self.spark.createDataFrame(
            [(1, "x1 x2 common run of five tokens tail"),
             (2, "common run of five tokens other end")],
            ["doc_id", "text"])
        pairs = self.spark.createDataFrame([(1, 2)], ["ia", "ib"])
        got = [(r["a_start"], r["a_end"], r["b_start"], r["b_end"],
                r["match_tokens"])
               for r in P.explain_near_dup_pairs(
                   docs, "doc_id", "text", pairs, "ia", "ib").collect()]
        self.assertEqual(got, [(2, 6, 0, 4, 5)])

    def test_pipeline_compact_in_place(self):
        from graftspark import pipeline as P
        import tempfile
        d = tempfile.mkdtemp() + "/corpus"
        self.spark.range(5000).withColumn(
            "k", (col("id") % 4).cast("int")).repartition(16).write.parquet(d)
        st = P.compact_in_place(self.spark, d, 1 << 60, ["k"]).head()
        self.assertEqual(st["files_before"], 16)
        self.assertLess(st["files_after"], 16)
        self.assertEqual(self.spark.read.parquet(d).count(), 5000)

    def test_pipeline_scrub_parquet(self):
        from graftspark import pipeline as P
        import tempfile
        d = tempfile.mkdtemp() + "/corpus"
        self.spark.range(50).withColumn(
            "payload", col("id") * 2).repartition(5).write.parquet(d)
        doomed = self.spark.createDataFrame([(7,), (33,)], ["bad"])
        st = P.scrub_parquet_by_id(self.spark, d, "id", doomed, "bad").head()
        self.assertEqual(st["rows_deleted"], 2)
        self.assertEqual(st["files_total"], 5)
        back = self.spark.read.parquet(d)
        self.assertEqual(back.count(), 48)
        self.assertEqual(back.filter(col("id").isin(7, 33)).count(), 0)

    def test_pipeline_mine_aligned_pairs(self):
        from graftspark import pipeline as P
        from pyspark.sql.types import (ArrayType, FloatType, LongType,
                                       StructField, StructType)
        schema = StructType([
            StructField("id", LongType()),
            StructField("vec", ArrayType(FloatType()))])
        left = self.spark.createDataFrame(
            [(0, [1.0, 0.1]), (2, [0.8, 0.6]), (4, [0.1, 1.0])], schema)
        right = self.spark.createDataFrame(
            [(1, [1.0, 0.0]), (3, [0.0, 1.0])], schema)
        got = sorted((r["left_id"], r["right_id"])
                     for r in P.mine_aligned_pairs(
                         left, "id", "vec", right, "id", "vec",
                         k=2, min_margin=0.0).collect())
        self.assertEqual(got, [(0, 1), (4, 3)])

    def test_pipeline_link_rank(self):
        from graftspark import pipeline as P
        # 3-node graph: a->b, b->c, c->a, a->c; replicate the documented
        # fixed-point integer recurrence for 2 iterations
        e = self.spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")], ["src", "dst"])
        got = {r["node"]: r["rank_fp"]
               for r in P.link_rank(e, "src", "dst", iterations=2).collect()}
        S, n = 1000000000000, 3
        base = S * 15 // 100 // n
        r = {k: S // n for k in "abc"}
        out = {"a": 2, "b": 1, "c": 1}
        for _ in range(2):
            inflow = {"a": r["c"] // out["c"], "b": r["a"] // out["a"],
                      "c": r["a"] // out["a"] + r["b"] // out["b"]}
            r = {k: base + 85 * inflow[k] // 100 for k in r}
        self.assertEqual(got, r)
        # domain_edges collapses to registrable domains, drops self-links
        df = self.spark.createDataFrame(
            [("https://blog.example.com/p", "https://www.example.com/h"),
             ("https://blog.example.com/p", "https://other.org/x")],
            ["page", "link"])
        edges = P.domain_edges(df, "page", "link").collect()
        self.assertEqual([(x["src"], x["dst"]) for x in edges],
                         [("example.com", "other.org")])

    def test_pipeline_entity_decode(self):
        from graftspark import pipeline as P
        df = self.spark.createDataFrame(
            [("caf&eacute; &mdash; &#65;&#x42; &amp;eacute; &foo; a&nbsp;b",)],
            ["t"])
        # full named+numeric kernel: one decode level, unknown names literal
        got = df.select(P.decode_html_entities(col("t")).alias("c")).head()["c"]
        self.assertEqual(got, "café — AB &eacute; &foo; a b")
        # numeric-only kernel leaves named refs alone
        got_n = df.select(P.decode_numeric_entities(col("t")).alias("c")).head()["c"]
        self.assertEqual(
            got_n, "caf&eacute; &mdash; AB &amp;eacute; &foo; a&nbsp;b")
        # strip_html kwargs route to the kernel modes
        html = self.spark.createDataFrame(
            [("<p>caf&eacute;&#33;</p> <script>x</script>&amp;lt;",)], ["t"])
        self.assertEqual(
            html.select(P.strip_html(col("t"), decode_named_entities=True)
                        .alias("c")).head()["c"],
            "café! &lt;")
        self.assertEqual(
            html.select(P.strip_html(col("t"), decode_numeric_entities=True)
                        .alias("c")).head()["c"],
            "caf&eacute;! &lt;")

    def test_pipeline_bpe(self):
        from graftspark import pipeline as P
        df = self.spark.createDataFrame(
            [("aaab aaab aab",), ("aaab ab",), ("aab zz",)], ["t"])
        model = P.bpe_train(df, col("t"), num_merges=3)
        enc = df.select(P.bpe_encode(col("t"), model).alias("e"),
                        P.bpe_token_count(col("t"), model).alias("n")).collect()
        # merges learned from these counts: (a,a) then (a,b) then (aa,ab)
        self.assertEqual(enc[0]["e"], ["aaab", "aaab", "aa", "b"])
        self.assertEqual(enc[1]["e"], ["aaab", "ab"])
        # (z,z) was never learned within num_merges=3 -> chars stay split
        self.assertEqual(enc[2]["e"], ["aa", "b", "z", "z"])
        self.assertEqual([r["n"] for r in enc], [4, 2, 4])
        # save/load round-trip encodes identically
        d = tempfile.mkdtemp()
        P.save_bpe(self.spark, model, d + "/bpe")
        model2 = P.load_bpe(self.spark, d + "/bpe")
        enc2 = df.select(P.bpe_encode(col("t"), model2).alias("e")).collect()
        self.assertEqual([r["e"] for r in enc], [r["e"] for r in enc2])

    def test_pipeline_byte_bpe(self):
        from graftspark import pipeline as P
        df = self.spark.createDataFrame(
            [("low low lower",), ("Low it's 2.0",)], ["t"])
        model = P.byte_bpe_train(df, col("t"), num_merges=5)
        enc = df.select(P.byte_bpe_encode(col("t"), model).alias("e"),
                        P.byte_bpe_token_count(col("t"), model).alias("n")).collect()
        # byte level is case-faithful: "Low" != "low"; tokens use the
        # display alphabet (0x20 -> 'Ġ')
        toks0, toks1 = enc[0]["e"], enc[1]["e"]
        self.assertEqual(enc[0]["n"], len(toks0))
        self.assertIn("low", toks0)
        self.assertTrue(any(t.startswith("Ġ") for t in toks0))
        self.assertTrue(any("L" in t for t in toks1))   # case survives
        self.assertIn("'s", "".join(toks1))             # contraction split
        # fertility report: exact sums under the model's counter
        fert = P.tokenizer_fertility(
            df.withColumn("src", lit("s")), "src", "t",
            {"bb": P.byte_bpe_token_count("t", model)}).first()
        total = df.select(P.byte_bpe_token_count("t", model).alias("n")) \
            .groupBy().sum("n").first()[0]
        self.assertEqual((fert["n_docs"], fert["bb_tokens"]), (2, total))
        # save/load round-trip encodes identically
        d = tempfile.mkdtemp()
        P.save_byte_bpe(self.spark, model, d + "/bb")
        model2 = P.load_byte_bpe(self.spark, d + "/bb")
        enc2 = df.select(P.byte_bpe_encode(col("t"), model2).alias("e")).collect()
        self.assertEqual([r["e"] for r in enc], [r["e"] for r in enc2])
        # token-accurate chat trim: counts come from the model
        conv = self.spark.createDataFrame(
            [(1, "system: low\nuser: low low\nassistant: low")], ["id", "t"])
        trim = {r["turn_idx"]: (r["n_tokens"], r["kept"])
                for r in P.chat_truncate_to_budget_byte_bpe(
                    conv, "id", "t", 2, model).collect()}
        # sys=1 token pins; remaining 1 fits assistant (1) not user (2)
        self.assertEqual(trim[0], (1, True))
        self.assertEqual(trim[1][0], 2)
        self.assertEqual(trim[1][1], False)
        self.assertEqual(trim[2], (1, True))

    def test_pipeline_tokenizer_decode(self):
        from graftspark import pipeline as P
        texts = ["it's Mixed CASE, 2.0 tabs\tand  spaces", "café 🙂", ""]
        df = self.spark.createDataFrame([(t,) for t in texts], ["t"])
        bb = P.byte_bpe_train(df, col("t"), num_merges=5)
        # byte-BPE decode is the exact inverse for every row
        rt = df.select(
            col("t"),
            P.byte_bpe_decode(P.byte_bpe_encode(col("t"), bb)).alias("r")
        ).collect()
        for r in rt:
            self.assertEqual(r["r"], r["t"])
        # lossy contracts: wordpiece -> space-joined ascii words,
        # bpe/unigram -> their concatenation
        import re
        wp = P.wordpiece_train(df, col("t"), vocab_size=40)
        bpe = P.bpe_train(df, col("t"), num_merges=10)
        ug = P.train_unigram(df, col("t"), vocab_size=40, seed_size=256)
        got = df.select(
            col("t"),
            P.wordpiece_decode(P.wordpiece_encode(col("t"), wp)).alias("w"),
            P.bpe_decode(P.bpe_encode(col("t"), bpe)).alias("b"),
            P.unigram_decode(P.unigram_encode(col("t"), ug)).alias("u")
        ).collect()
        for r in got:
            words = [w for w in re.split(r"[^a-z0-9]+", r["t"].lower()) if w]
            self.assertEqual(r["w"], " ".join(words))
            self.assertEqual(r["b"], "".join(words))
            self.assertEqual(r["u"], "".join(words))

    def test_pipeline_byte_bpe_ids(self):
        from graftspark import pipeline as P
        texts = ["it's Mixed CASE 2.0", "café 🙂", ""]
        df = self.spark.createDataFrame([(t,) for t in texts], ["t"])
        model = P.byte_bpe_train(df, col("t"), num_merges=5)
        self.assertEqual(P.byte_bpe_vocab_size(model), 261)
        rows = df.select(
            col("t"),
            P.byte_bpe_decode_ids(
                P.byte_bpe_encode_ids(col("t"), model), model).alias("rt"),
            P.byte_bpe_encode_ids(col("t"), model).alias("ids")).collect()
        for r in rows:
            self.assertEqual(r["rt"], r["t"])
            self.assertTrue(all(0 <= i < 261 for i in r["ids"]))
        d = tempfile.mkdtemp()
        P.save_byte_bpe_vocab(self.spark, model, d + "/v")
        vocab = {r["id"]: r["token"]
                 for r in self.spark.read.parquet(d + "/v").collect()}
        self.assertEqual(len(vocab), 261)
        self.assertEqual(vocab[0x20], "Ġ")
        # chat template render + the specials codec, end to end
        conv = self.spark.createDataFrame(
            [("user: hi\nassistant: hello",)], ["t"])
        sp = P.chat_template_specials()
        rendered = conv.select(
            P.chat_render_template(col("t")).alias("r")).first()["r"]
        self.assertEqual(rendered,
                         "<|user|>hi<|end|><|assistant|>hello<|end|>")
        rt = conv.select(P.byte_bpe_decode_ids_special(
            P.byte_bpe_encode_ids_special(
                P.chat_render_template(col("t")), model, sp),
            model, sp).alias("x")).first()["x"]
        self.assertEqual(rt, rendered)
        # special tokens: reserved ids + exact round-trip
        sdf = self.spark.createDataFrame(
            [("lead <|endoftext|> tail",)], ["t"])
        sids = sdf.select(P.byte_bpe_encode_ids_special(
            col("t"), model, ["<|endoftext|>"]).alias("ids")).first()["ids"]
        self.assertEqual(sids.count(261), 1)
        srt = sdf.select(P.byte_bpe_decode_ids_special(
            P.byte_bpe_encode_ids_special(col("t"), model, ["<|endoftext|>"]),
            model, ["<|endoftext|>"]).alias("rt")).first()["rt"]
        self.assertEqual(srt, "lead <|endoftext|> tail")
        # shard writer round-trip: pack -> unpack -> decode
        docs = self.spark.createDataFrame(
            [(1, "one two three"), (2, "four"), (3, "five six")],
            ["doc_id", "t"])
        packed = P.pack_token_ids(
            docs, P.byte_bpe_encode_ids(col("t"), model), [col("doc_id")],
            capacity=7, sep_id=261)
        lens = [len(r["ids"])
                for r in packed.orderBy("seq_id").collect()]
        self.assertTrue(all(n == 7 for n in lens[:-1]) and 1 <= lens[-1] <= 7)
        back = {r["doc_idx"]: r["t"] for r in P.unpack_token_ids(
            packed, 7, 261).select(
                "doc_idx",
                P.byte_bpe_decode_ids(col("ids"), model).alias("t")).collect()}
        self.assertEqual(back, {0: "one two three", 1: "four", 2: "five six"})
        # range-restricted unpack: the whole range equals the full unpack
        whole = {r["doc_idx"]: r["t"] for r in P.unpack_token_ids_range(
            packed, 7, 261, 0, packed.count()).select(
                "doc_idx",
                P.byte_bpe_decode_ids(col("ids"), model).alias("t")).collect()}
        self.assertEqual(whole, back)

    def test_pipeline_shards_and_templates(self):
        from graftspark import pipeline as P
        texts = ["one two three", "four", "five six", ""]
        docs = self.spark.createDataFrame(
            list(enumerate(texts)), ["doc_id", "t"])
        model = P.byte_bpe_train(docs, col("t"), num_merges=5)
        # unified tokenizer artifact: save -> load -> encode == in-memory
        tok = P.tokenizer(model, ["<|endoftext|>"])
        self.assertEqual(P.tokenizer_vocab_size(tok), 262)
        self.assertEqual(P.tokenizer_specials(tok), ["<|endoftext|>"])
        d = tempfile.mkdtemp()
        fert = self.spark.createDataFrame([("all", 3)], ["grp", "n_docs"])
        P.save_tokenizer_with_fertility(self.spark, tok, d + "/tok", fert)
        loaded = P.load_tokenizer(self.spark, d + "/tok")
        got = P.load_tokenizer_fertility(self.spark, d + "/tok")
        self.assertEqual(got.collect(), fert.collect())
        for r in docs.select(
                col("t"),
                P.tokenizer_decode_ids(loaded, P.tokenizer_encode_ids(
                    loaded, col("t"))).alias("rt")).collect():
            self.assertEqual(r["rt"], r["t"])
        # shard artifact: save -> load -> verify -> unpack -> decode with
        # the BUNDLED tokenizer (sep_id = its <|endoftext|> reserved id)
        n = P.save_shards(docs, P.byte_bpe_encode_ids(col("t"), model),
                          [col("doc_id")], capacity=7, sep_id=261,
                          path=d + "/shards", tokenizer=tok)
        s = P.load_shards(self.spark, d + "/shards")
        self.assertEqual((s.capacity, s.sep_id, s.n_sequences), (7, 261, n))
        self.assertIsNotNone(s.tokenizer)
        v = P.verify_shards(self.spark, d + "/shards").first()
        self.assertTrue(v["all_ok"] and v["dense_ok"] and v["sized_ok"])
        back = {r["doc_idx"]: r["x"]
                for r in P.unpack_shards(self.spark, d + "/shards").select(
                    "doc_idx",
                    P.tokenizer_decode_ids(s.tokenizer,
                                           col("ids")).alias("x")).collect()}
        self.assertEqual(back, {0: "one two three", 1: "four", 2: "five six"})
        # incremental append == a one-shot save over the union
        half = docs.filter(col("doc_id") < 2)
        rest = docs.filter(col("doc_id") >= 2)
        P.save_shards(half, P.byte_bpe_encode_ids(col("t"), model),
                      [col("doc_id")], capacity=7, sep_id=261,
                      path=d + "/inc", tokenizer=tok)
        n2 = P.append_shards(rest, P.byte_bpe_encode_ids(col("t"), model),
                             [col("doc_id")], d + "/inc")
        self.assertEqual(n2, n)
        one = sorted((r["seq_id"], list(r["ids"]), r["n_docs"])
                     for r in s.data.collect())
        inc = sorted((r["seq_id"], list(r["ids"]), r["n_docs"])
                     for r in P.load_shards(self.spark, d + "/inc").data.collect())
        self.assertEqual(inc, one)
        self.assertTrue(P.verify_shards(self.spark, d + "/inc")
                        .first()["all_ok"])
        # configurable chat templates: the ChatML preset scrubs '<|' runs
        # from contents and brackets with EOS
        conv = self.spark.createDataFrame(
            [("user: hi <|end|>\nassistant: hello",)], ["t"])
        tpl = P.chat_template_chatml()
        self.assertEqual(P.template_specials_of(tpl)[-1], "<|endoftext|>")
        r = conv.select(
            P.chat_render_template_spec(col("t"), tpl).alias("r")).first()["r"]
        self.assertEqual(
            r, "<|im_start|>user\nhi end|><|im_end|>\n"
               "<|im_start|>assistant\nhello<|im_end|>\n<|endoftext|>")
        # a default-spec render equals the legacy surface
        dflt = P.chat_template()
        a = conv.select(
            P.chat_render_template_spec(col("t"), dflt).alias("r")).first()["r"]
        b = conv.select(
            P.chat_render_template(col("t")).alias("r")).first()["r"]
        self.assertEqual(a, b)

    def test_pipeline_mask_boundaries_shard_batch(self):
        from graftspark import pipeline as P
        docs = self.spark.createDataFrame(
            [(0, "one two three"), (1, "four"), (2, "five six"), (3, "")],
            ["doc_id", "t"])
        model = P.byte_bpe_train(docs, col("t"), num_merges=5)
        # sft_loss_mask: trainable subset decodes to assistant content +
        # the closing end marker, nothing else
        conv = self.spark.createDataFrame(
            [("user: one two\nassistant: three four",)], ["t"])
        sp = P.chat_template_specials()
        ids_col = P.byte_bpe_encode_ids_special(
            P.chat_render_template(col("t")), model, sp)
        row = conv.select(
            ids_col.alias("ids"),
            P.sft_loss_mask(ids_col, 261).alias("m")).first()
        self.assertEqual(len(row["m"]), len(row["ids"]))
        trained = [i for i, m in zip(row["ids"], row["m"]) if m == 1]
        dec = self.spark.createDataFrame([(trained,)], "ids: array<int>") \
            .select(P.byte_bpe_decode_ids_special(
                col("ids"), model, sp).alias("x")).first()["x"]
        self.assertEqual(dec, "three four<|end|>")
        # doc_boundaries: every doc's start offset, empty doc = its bare
        # separator; derived equals the running-sum prediction
        packed = P.pack_token_ids(
            docs, P.byte_bpe_encode_ids(col("t"), model), [col("doc_id")],
            capacity=7, sep_id=261)
        lens = [len(r["n"]) + 1 for r in docs.orderBy("doc_id").select(
            P.byte_bpe_encode_ids(col("t"), model).alias("n")).collect()]
        starts, acc = [], 0
        for n in lens:
            starts.append(acc)
            acc += n
        got = sorted(r["seq_id"] * 7 + p
                     for r in P.doc_boundaries(packed, 261).collect()
                     for p in r["doc_starts"])
        self.assertEqual(got, starts)
        # aligned mask pack: both streams survive the trip per doc
        from pyspark.sql import functions as F
        enc_ids = P.byte_bpe_encode_ids(col("t"), model)
        m = F.transform(enc_ids, lambda x, i: (i % 2 == 0).cast("int"))
        mp = P.pack_token_ids_with_mask(
            docs, enc_ids, m, [col("doc_id")], 7, 300)
        per_doc = {r["doc_idx"]: (list(r["ids"]), list(r["mask"]))
                   for r in P.unpack_token_ids_with_mask(mp, 7, 300).collect()}
        exp = [(list(r["i"]), list(r["m"])) for r in docs.orderBy("doc_id")
               .select(enc_ids.alias("i"), m.alias("m")).collect()]
        for i, e in enumerate(exp):
            if e[0]:
                self.assertEqual(per_doc[i], e)
        # shard_batch: bootstrap + append + idempotent redelivery ==
        # one-shot artifact
        d = tempfile.mkdtemp()
        enc = P.byte_bpe_encode_ids(col("t"), model)
        P.shard_batch(docs.filter(col("doc_id") < 2), 0, enc,
                      [col("doc_id")], 7, 261, d + "/s")
        P.shard_batch(docs.filter(col("doc_id") < 2), 0, enc,
                      [col("doc_id")], 7, 261, d + "/s")  # redelivery
        P.shard_batch(docs.filter(col("doc_id") >= 2), 1, enc,
                      [col("doc_id")], 7, 261, d + "/s")
        self.assertEqual(P.shards_last_batch_id(self.spark, d + "/s"), 1)
        P.save_shards(docs, enc, [col("doc_id")], capacity=7, sep_id=261,
                      path=d + "/one")
        streamed = sorted((r["seq_id"], list(r["ids"]))
                          for r in P.load_shards(
                              self.spark, d + "/s").data.collect())
        oneshot = sorted((r["seq_id"], list(r["ids"]))
                         for r in P.load_shards(
                             self.spark, d + "/one").data.collect())
        self.assertEqual(streamed, oneshot)

    def test_pipeline_k_center(self):
        from graftspark import pipeline as P
        vecs = self.spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0]),
             (4, [-1.0, 0.0])],
            "vec_id: long, embedding: array<float>")
        got = [(r["rank"], r["id"], r["d2"]) for r in P.k_center_select(
            vecs, col("vec_id"), col("embedding"), 3).collect()]
        # hand-traced: seed 1, then the antipode 4, then the orthogonal 2
        self.assertEqual(sorted(got),
                         [(1, 1, 0), (2, 4, 64516), (3, 2, 32258)])

    def test_pipeline_top_paths(self):
        from graftspark import pipeline as P
        ev = self.spark.createDataFrame(
            [(1, 0, 10, "a"), (1, 1, 11, "b"),
             (2, 0, 20, "a"), (2, 1, 21, "b"),
             (3, 0, 30, "x")],
            ["u", "t", "eid", "ty"])
        got = [(r["path"], r["users"]) for r in P.top_paths(
            ev, col("u"), col("t"), col("eid"), col("ty"),
            max_steps=2, k=5).collect()]
        self.assertEqual(got, [("a > b", 2), ("x", 1)])

    def test_pipeline_token_provenance(self):
        from graftspark import pipeline as P
        docs = self.spark.createDataFrame(
            [(0, 3, "a"), (1, 4, "b"), (2, 6, "a"), (3, 2, "b")],
            ["id", "n", "src"])
        prov = P.token_provenance(docs, col("n"), [col("id")], 5,
                                  col("src")).collect()
        # per-source totals == sum of (n + 1) per source
        by_src = {}
        for r in prov:
            by_src[r["source"]] = by_src.get(r["source"], 0) + r["n_ids"]
        self.assertEqual(by_src, {"a": 3 + 1 + 6 + 1, "b": 4 + 1 + 2 + 1})
        # per-seq totals == full sequences of 5 (stream = 19 ids)
        by_seq = {}
        for r in prov:
            by_seq[r["seq_id"]] = by_seq.get(r["seq_id"], 0) + r["n_ids"]
        self.assertEqual(by_seq, {0: 5, 1: 5, 2: 5, 3: 4})

    def test_pipeline_fim(self):
        from graftspark import pipeline as P
        import re
        docs = self.spark.createDataFrame(
            [(1, "the quick brown fox"), (2, "short"), (3, "")],
            ["id", "t"])
        rows = docs.select(
            "id", "t", P.fim_transform(col("t"), col("id"), 1.0).alias("f"),
            P.fim_applied(col("id"), 1.0).alias("ap")).collect()
        pat = re.compile(
            r"^<\|fim_pre\|>(.*)<\|fim_suf\|>(.*)<\|fim_mid\|>(.*)$", re.S)
        for r in rows:
            self.assertTrue(r["ap"])
            m = pat.match(r["f"])
            self.assertIsNotNone(m)
            self.assertEqual(m.group(1) + m.group(3) + m.group(2), r["t"])
        self.assertEqual(P.fim_specials(),
                         ["<|fim_pre|>", "<|fim_suf|>", "<|fim_mid|>"])
        # rate 0: identity
        same = docs.select(
            "t", P.fim_transform(col("t"), col("id"), 0.0).alias("f")).collect()
        for r in same:
            self.assertEqual(r["f"], r["t"])

    def test_pipeline_bin_pack(self):
        from graftspark import pipeline as P
        docs = self.spark.createDataFrame(
            [(1, 5), (2, 5), (3, 3), (4, 3), (5, 3), (6, 2), (7, 0)],
            ["id", "n"])
        got = {r["id"]: (r["bin_id"], r["slot"])
               for r in P.pack_bins(docs, col("n"), [col("id")], 8).collect()}
        # hand-traced spec (see BinPackSuite): two [5]-bins, both take a 3,
        # the third 3 opens bin 2, the 2 joins it; zero-token doc drops
        self.assertEqual(got, {1: (0, 0), 2: (1, 0), 3: (0, 1),
                               4: (1, 1), 5: (2, 0), 6: (2, 1)})
        r = P.bin_pack_report(
            P.pack_bins(docs, col("n"), [col("id")], 8), 8).first()
        self.assertEqual((r["n_bins"], r["n_docs"], r["total_tokens"],
                          r["slot_capacity"], r["min_bins"]),
                         (3, 6, 21, 24, 3))
        # materialized no-split artifact: padded to capacity, doc_starts
        # cut the bins back into whole-document blocks
        ids_docs = self.spark.createDataFrame(
            [(1, [10, 11]), (2, [20]), (3, [30, 31, 32])],
            "id: long, ids: array<int>")
        seqs = P.pack_bin_sequences(ids_docs, col("ids"), [col("id")], 4)
        for row in seqs.collect():
            self.assertEqual(len(row["ids"]) + row["n_pad"], 4)
            self.assertEqual(row["doc_starts"][0], 0)

    def test_pipeline_conversation_neardup(self):
        from graftspark import pipeline as P
        body = ("the quick brown fox jumps over the lazy dog and keeps "
                "running far away today")
        a = "\n".join("user: " + " ".join(ws) if i % 2 == 0
                      else "assistant: " + " ".join(ws)
                      for i, ws in enumerate(
                          [body.split()[j:j + 7]
                           for j in range(0, len(body.split()), 7)]))
        b = a.replace("assistant: ", "user: ")  # role-scrambled re-wrap
        other = ("user: entirely different gardening subject about compost "
                 "soil tomatoes and the joy of summer watering schedules")
        df = self.spark.createDataFrame(
            [(1, a), (2, b), (3, other)], ["id", "t"])
        pairs = P.conversation_neardup_pairs(df, "id", "t").collect()
        self.assertEqual([(r["idA"], r["idB"], r["jaccard"])
                          for r in pairs], [(1, 2, 1.0)])

    def test_pipeline_urls_and_weighted_topk(self):
        from graftspark import pipeline as P
        df = self.spark.createDataFrame(
            [(1, "HTTPS://WWW.Example.COM:443/A/?utm_source=x&b=2&a=1#f"),
             (2, "https://example.com/A?a=1&b=2"),
             (3, "http://www.news.com.au/story/")], ["id", "u"])
        rows = df.select(
            P.canonicalize_url(col("u")).alias("c"),
            P.url_host(col("u")).alias("h"),
            P.registrable_domain(col("u")).alias("d")).collect()
        self.assertEqual(rows[0]["c"], "https://example.com/A?a=1&b=2")
        self.assertEqual(rows[0]["c"], rows[1]["c"])
        self.assertEqual(rows[2]["h"], "news.com.au")
        self.assertEqual(rows[2]["d"], "news.com.au")
        kept = sorted(r["id"] for r in P.dedup_by_canonical_url(
            df, col("id"), col("u")).collect())
        self.assertEqual(kept, [1, 3])
        stats = {r["domain"]: (r["n_urls"], r["n_distinct_urls"])
                 for r in P.domain_stats(df, col("u")).collect()}
        self.assertEqual(stats["example.com"], (2, 1))
        # text-embedded URL extraction + link-density stats
        ldf = self.spark.createDataFrame(
            [(1, "go to https://a.b/c (https://a.b/c) now"),
             (2, "plain prose")], ["id", "t"])
        ls = {r["id"]: (r["n_urls"], r["n_distinct_urls"], r["url_chars"])
              for r in P.with_link_stats(ldf, col("t")).collect()}
        self.assertEqual(ls[1], (2, 1, 26))
        self.assertEqual(ls[2], (0, 0, 0))
        # weighted top-k without replacement: heavy rows win, exact size
        wdf = self.spark.range(500).toDF("k").withColumn(
            "w", expr("CASE WHEN k < 20 THEN 1000.0 ELSE 0.01 END"))
        got = {r["k"] for r in P.weighted_sample_top_k(
            wdf, col("k"), col("w"), k=20).collect()}
        self.assertEqual(len(got), 20)
        self.assertGreaterEqual(len([k for k in got if k < 20]), 19)

    def test_pipeline_mixture_overlap_boilerplate(self):
        from graftspark import pipeline as P
        # per-domain cap: deterministic k-per-registrable-domain draw
        urls = self.spark.createDataFrame(
            [(i, "https://big.example.com/p%d" % i) for i in range(10)] +
            [(100, "https://small.org/x")], ["id", "u"])
        capped = P.cap_per_domain(urls, col("id"), col("u"), max_per_domain=3)
        doms = {}
        for r in capped.select(P.registrable_domain(col("u")).alias("d")).collect():
            doms[r["d"]] = doms.get(r["d"], 0) + 1
        self.assertEqual(doms, {"example.com": 3, "small.org": 1})
        again = P.cap_per_domain(urls.repartition(5), col("id"), col("u"),
                                 max_per_domain=3)
        self.assertEqual(sorted(r["id"] for r in capped.collect()),
                         sorted(r["id"] for r in again.collect()))
        # boilerplate removal drops ALL occurrences at the distinct-doc bar
        docs = self.spark.createDataFrame(
            [(1, "one\nfooter"), (2, "two\nfooter"), (3, "three\nfooter")],
            ["doc_id", "text"])
        out = {r["doc_id"]: r["text"] for r in P.remove_boilerplate_lines(
            docs, col("doc_id"), col("text"), min_docs=3).collect()}
        self.assertEqual(out, {1: "one", 2: "two", 3: "three"})
        # KMV overlap: exact when the union fits in k
        a = self.spark.range(30).toDF("v")
        b = self.spark.range(20, 50).toDF("v")
        row = P.kmv_overlap_estimate(a, col("v"), b, col("v"), k=256).collect()[0]
        self.assertEqual((row["k_used"], row["n_both"]), (50, 10))
        self.assertAlmostEqual(row["j_estimate"], 0.2)
        sk = P.kmv_sketch(a, col("v"), k=256)
        est = sk.select(
            P.kmv_distinct_estimate(col("kmv"), 256).alias("d")).collect()[0]["d"]
        self.assertEqual(est, 30.0)
        # join-size pre-flight: exact when the key union fits in k — here
        # |a join b| on the 10 shared keys with multiplicities 1x1
        js = P.join_size_estimate(a, col("v"), b, col("v"), k=256).collect()[0]
        self.assertEqual(js["k_used"], 50)
        self.assertEqual(js["join_estimate"], 10.0)
        # mixture resampling: a=100/b=200/c=300 rows to 50/30/20 shares ->
        # T = 200, a kept whole, b ~60, c ~40
        rows = [(i, "a" if i % 6 < 1 else ("b" if i % 6 < 3 else "c"))
                for i in range(600)]
        df = self.spark.createDataFrame(rows, ["id", "dom"])
        out2 = P.resample_to_mixture(
            df, col("dom"), {"a": 0.5, "b": 0.3, "c": 0.2}, col("id"))
        counts = {r["dom"]: r["count"]
                  for r in out2.groupBy("dom").count().collect()}
        self.assertEqual(counts["a"], 100)
        self.assertLess(abs(counts["b"] - 60), 30)
        self.assertLess(abs(counts["c"] - 40), 25)

    def test_pipeline_containment(self):
        from graftspark import pipeline as P
        base = " ".join("w%da w%db w%dc" % (i, i, i) for i in range(1, 61))
        excerpt = " ".join(base.split(" ")[30:60])
        other = " ".join("z%dx z%dy z%dq" % (i, i, i) for i in range(1, 61))
        docs = self.spark.createDataFrame(
            [(1, base), (2, other + " " + excerpt), (3, excerpt)],
            ["doc_id", "text"])
        pairs = {(r["idA"], r["idB"]): r["containment"]
                 for r in P.containment_pairs(
                     docs, col("doc_id"), col("text")).collect()}
        self.assertEqual(pairs[(1, 3)], 1.0)  # excerpt fully inside base
        self.assertEqual(pairs[(2, 3)], 1.0)  # and inside its carrier
        self.assertNotIn((1, 2), pairs)       # large-large run: below 0.5
        prints = docs.select(
            P.winnowed_shingles(col("text"), 3, 4).alias("p")).collect()
        self.assertTrue(all(len(r["p"]) > 0 for r in prints))

    def test_parquet_zonemap_pruning(self):
        from graftspark import parquet as GP
        d = tempfile.mkdtemp()
        self.spark.range(0, 40000).toDF("k") \
            .repartition(1).sortWithinPartitions("k") \
            .write.option("parquet.block.size", "65536").parquet(d + "/zm")
        rep = GP.zonemap_pruning_report(
            self.spark, [d + "/zm"], "k", 0.0, 1000.0).collect()
        self.assertGreater(len(rep), 1)  # small block size -> several groups
        # sorted layout: exactly the groups whose min > 1000 are skippable
        for r in rep:
            self.assertIn(r["skippable"], (True, False))
        skip = [r for r in rep if r["skippable"]]
        self.assertGreater(len(skip), 0)
        self.assertLess(len(skip), len(rep))
        summ = GP.zonemap_pruning_summary(
            self.spark, [d + "/zm"], "k", 0.0, 1000.0).collect()[0]
        self.assertEqual(summ["n_blocks"], len(rep))
        self.assertEqual(summ["n_skippable"], len(skip))
        self.assertGreater(summ["skip_fraction"], 0.5)

    def test_pipeline_stream_replay(self):
        from datetime import datetime, timezone
        from graftspark import pipeline as P
        from pyspark.sql.types import (IntegerType, LongType, StringType,
                                       StructField, StructType, TimestampType)
        ts = datetime(2021, 1, 1, tzinfo=timezone.utc)
        # batch 0 = first occurrence of each text, batch 1 = the duplicates:
        # keep-first must keep exactly batch 0's ids
        rows = [(1, "alpha text", ts, 0), (2, "beta text", ts, 0),
                (4, "gamma text", ts, 0), (3, "alpha text", ts, 1),
                (5, "beta  text", ts, 1)]  # 5 normalizes to 2's fingerprint
        schema = StructType([
            StructField("id", LongType()), StructField("text", StringType()),
            StructField("ts", TimestampType()), StructField("b", IntegerType())])
        df = self.spark.createDataFrame(rows, schema)
        d = tempfile.mkdtemp()
        schema_json = P.write_ordered_batches(df, col("b"), 2, d + "/in")
        stream = P.read_ordered_batches(self.spark, d + "/in", schema_json)
        self.assertTrue(stream.isStreaming)
        deduped = P.drop_duplicate_texts_within_watermark(
            stream, col("text"), "ts", "30 days")
        out = P.drain_to_parquet(deduped, d + "/out", d + "/cp")
        self.assertEqual(sorted(r["id"] for r in out.collect()), [1, 2, 4])

    def test_pipeline_warc(self):
        from graftspark import pipeline as P
        import gzip
        d = tempfile.mkdtemp()
        rec = (b"WARC/1.0\r\nWARC-Type: conversion\r\n"
               b"WARC-Target-URI: http://ex.com/1\r\n"
               b"Content-Length: 9\r\n\r\nhello doc\r\n\r\n")
        with open(d + "/s.warc.wet.gz", "wb") as f:
            f.write(gzip.compress(rec))
        out = P.read_warc(self.spark, d).collect()
        self.assertEqual(len(out), 1)
        self.assertEqual(out[0]["payload"], "hello doc")
        self.assertEqual(out[0]["target_uri"], "http://ex.com/1")
        self.assertEqual(out[0]["content_length"], 9)

    def test_pipeline_unigram(self):
        from graftspark import pipeline as P
        from pyspark.sql.functions import concat, lit
        docs = self.spark.range(0, 100).select(
            concat(lit("internationalization analytics engine doc"),
                   col("id").cast("string")).alias("t"))
        m = P.train_unigram(docs, "t", vocab_size=120, seed_size=1024)
        enc = docs.select(P.unigram_encode("t", m).alias("p"),
                          P.unigram_token_count("t", m).alias("n")).head()
        # pieces concatenate back to the lowercased alnum text
        self.assertEqual("".join(enc["p"]),
                         "internationalizationanalyticsenginedoc0")
        self.assertEqual(enc["n"], len(enc["p"]))
        # frequent long words learn multi-char pieces
        self.assertLess(enc["n"], 20)
        # save/load round-trips the segmentation
        d = tempfile.mkdtemp()
        P.save_unigram(self.spark, m, d + "/m")
        m2 = P.load_unigram(self.spark, d + "/m")
        enc2 = docs.select(P.unigram_encode("t", m2).alias("p")).head()
        self.assertEqual(enc["p"], enc2["p"])
        # pure-SQL path through the saved artifact
        import graftspark as G
        G.register_extensions(self.spark)
        docs.createOrReplaceTempView("ug_docs_py")
        r = self.spark.sql(
            f"SELECT unigram_encode_model('{d}/m', t) AS p FROM ug_docs_py"
        ).head()
        self.assertEqual(list(r["p"]), list(enc["p"]))

    def test_pipeline_streaming_drift(self):
        from datetime import datetime, timezone
        from graftspark import pipeline as P
        from pyspark.sql.types import (IntegerType, LongType, StringType,
                                       StructField, StructType, TimestampType)
        ts = datetime(2021, 1, 1, tzinfo=timezone.utc)
        flush_ts = datetime(2021, 1, 2, tzinfo=timezone.utc)
        # batch 0 = the data window, batch 1 = a far-future flush row whose
        # event time advances the watermark past the window end so the
        # append-mode aggregation emits it
        rows = [(1, "the cat sat", ts, 0), (2, "dog and dog", ts, 0),
                (3, "the the unknown", ts, 0), (4, "flush", flush_ts, 1)]
        schema = StructType([
            StructField("id", LongType()), StructField("text", StringType()),
            StructField("ts", TimestampType()), StructField("b", IntegerType())])
        df = self.spark.createDataFrame(rows, schema)
        d = tempfile.mkdtemp()
        schema_json = P.write_ordered_batches(df, col("b"), 2, d + "/in")
        stream = P.read_ordered_batches(self.spark, d + "/in", schema_json)
        counts = P.streaming_token_counts_by_window(
            stream, col("text"), "ts", "1 minute", "0 seconds",
            ["the", "cat", "dog"])
        out = P.drain_to_parquet(counts, d + "/out", d + "/cp",
                                 await_no_data_batch=True)
        from pyspark.sql.functions import unix_timestamp
        rows2 = out.select(unix_timestamp(col("window.start")).alias("w"),
                           "token", "cnt").collect()
        wmin = min(r["w"] for r in rows2)  # the data window; later = flush
        got = {r["token"]: r["cnt"] for r in rows2 if r["w"] == wmin}
        self.assertEqual(got, {"the": 3, "cat": 1, "dog": 2, "<oov>": 3})
        # exact integer TV readout: hand case from the sbt suite
        ref = self.spark.createDataFrame(
            [("the", 6), ("cat", 3), ("dog", 3)], ["token", "cnt"])
        hand = self.spark.createDataFrame(
            [(0, "the", 1), (0, "cat", 1)], ["w", "token", "cnt"])
        r = P.total_variation_by_window(hand, ["w"], ref).head()
        self.assertEqual(r["tv_scaled"], 12)
        self.assertEqual(r["tv"], 0.25)

    def test_pipeline_streaming_heavy_hitters(self):
        from datetime import datetime, timezone
        from graftspark import pipeline as P
        from pyspark.sql.types import (IntegerType, StringType, StructField,
                                       StructType, TimestampType)
        base = datetime(2021, 1, 1, tzinfo=timezone.utc).timestamp()

        def ts(s):
            return datetime.fromtimestamp(base + s, tz=timezone.utc)

        # window [0, 60): a x3, b x1; the far-future row closes it
        rows = [("a", ts(1), 0), ("b", ts(2), 0), ("a", ts(3), 0),
                ("a", ts(4), 1), ("zz", ts(7200), 2)]
        schema = StructType([
            StructField("key", StringType()), StructField("ts", TimestampType()),
            StructField("b", IntegerType())])
        df = self.spark.createDataFrame(rows, schema)
        d = tempfile.mkdtemp()
        schema_json = P.write_ordered_batches(df, col("b"), 3, d + "/in")
        stream = P.read_ordered_batches(self.spark, d + "/in", schema_json)
        hh = P.streaming_top_keys_per_window(
            stream, col("key"), "ts", "1 minute", "0 seconds",
            k=2, capacity=8)
        out = P.drain_to_parquet(hh, d + "/out", d + "/cp",
                                 await_no_data_batch=True)
        got = sorted((r["rank"], r["key"], r["est_count"])
                     for r in out.where(col("key") != "zz").collect())
        self.assertEqual(got, [(1, "a", 3), (2, "b", 1)])

    def test_pipeline_streaming_retention_and_funnel(self):
        from datetime import datetime, timezone
        from graftspark import pipeline as P
        from pyspark.sql.types import (IntegerType, LongType, StringType,
                                       StructField, StructType, TimestampType)
        base = datetime(2021, 1, 1, tzinfo=timezone.utc).timestamp()

        def ts(s):
            return datetime.fromtimestamp(base + s, tz=timezone.utc)

        # periods of 100s: user 1 active in periods 0,1,3; user 2 in 1,2
        rows = [(1, ts(10), "s1", 0), (1, ts(110), "s2", 0),
                (2, ts(150), "s1", 1), (1, ts(310), "s3", 1),
                (2, ts(250), "s2", 1)]
        schema = StructType([
            StructField("u", LongType()), StructField("ts", TimestampType()),
            StructField("ty", StringType()), StructField("b", IntegerType())])
        df = self.spark.createDataFrame(rows, schema)
        d = tempfile.mkdtemp()
        schema_json = P.write_ordered_batches(df, col("b"), 2, d + "/in")
        stream = P.read_ordered_batches(self.spark, d + "/in", schema_json)
        hits = P.streaming_retention_hits(stream, col("u"), "ts",
                                          period_us=100_000_000, horizon=16)
        out = P.drain_to_parquet(hits, d + "/out", d + "/cp")
        got = sorted((r["user_id"], r["cohort_period"], r["period_offset"])
                     for r in out.collect())
        c0 = int(base) // 100  # cohort period of t=0 in 100s units
        self.assertEqual(got, [(1, c0, 0), (1, c0, 1), (1, c0, 3),
                               (2, c0 + 1, 0), (2, c0 + 1, 1)])
        # streaming funnel over the same replay
        stream2 = P.read_ordered_batches(self.spark, d + "/in", schema_json)
        prog = P.streaming_funnel_progress(stream2, col("u"), "ts", col("ty"),
                                           ["s1", "s2", "s3"])
        out2 = P.drain_to_parquet(prog, d + "/out2", d + "/cp2")
        depth = {r["user_id"]: r["d"] for r in out2.groupBy("user_id")
                 .agg({"depth": "max"}).withColumnRenamed("max(depth)", "d")
                 .collect()}
        self.assertEqual(depth, {1: 3, 2: 2})

    def test_pipeline_jaccard_prefix(self):
        from graftspark import pipeline as P
        base = ("doc words alpha beta gamma delta epsilon zeta eta theta "
                "iota kappa lambda mu nu xi omicron pi rho sigma tau")
        docs = self.spark.createDataFrame(
            [(1, base), (2, base.replace("gamma", "gamma2")),
             (3, "a totally different document about catalyst planner rules")],
            ["doc_id", "text"])
        pairs = {(r["idA"], r["idB"]) for r in P.jaccard_join_prefix(
            docs, col("doc_id"), col("text"), threshold=0.7).collect()}
        self.assertEqual(pairs, {(1, 2)})
        kept = sorted(r["doc_id"] for r in P.deduplicate_exact_jaccard(
            docs, col("doc_id"), col("text"), threshold=0.7).collect())
        self.assertEqual(kept, [1, 3])

    def test_pipeline_seeded_stream_and_domain_cap(self):
        from datetime import datetime, timezone
        from graftspark import pipeline as P
        from pyspark.sql.types import (IntegerType, LongType, StringType,
                                       StructField, StructType, TimestampType)
        ts = datetime(2021, 1, 1, tzinfo=timezone.utc)
        prose = ("the quick brown fox jumps over the lazy dog near the "
                 "river bank today")
        corpus = self.spark.createDataFrame(
            [(10, prose), (11, "corpus noise about bucketed joins")],
            ["doc_id", "text"])
        seed = P.corpus_bucket_first(corpus, col("doc_id"), col("text"))
        self.assertGreater(seed.count(), 0)
        schema = StructType([
            StructField("id", LongType()), StructField("text", StringType()),
            StructField("ts", TimestampType()), StructField("b", IntegerType())])
        feed = self.spark.createDataFrame(
            [(100, prose, ts, 0), (101, "fresh unseen text entirely", ts, 0)],
            schema)
        d = tempfile.mkdtemp()
        sj = P.write_ordered_batches(feed, col("b"), 1, d + "/in")
        stream = P.read_ordered_batches(self.spark, d + "/in", sj)
        cand = P.near_dup_candidates_seeded_stream(
            stream, col("id"), col("text"), "ts", "30 days", seed)
        out = P.drain_to_parquet(cand, d + "/out", d + "/cp")
        got = {(r["docId"], r["firstDocId"]) for r in out.collect()}
        # the corpus was never replayed, yet batch 0 collides against doc 10
        self.assertEqual(got, {(100, 10)})
        # streaming per-domain cap: first-arrival k per registrable domain
        urls = self.spark.createDataFrame(
            [(1, "https://example.com/a", ts, 0),
             (2, "https://www.example.com/b", ts, 0),
             (3, "https://example.com/c", ts, 0),
             (4, "https://other.org/x", ts, 0)],
            StructType([
                StructField("id", LongType()), StructField("url", StringType()),
                StructField("ts", TimestampType()), StructField("b", IntegerType())]))
        d2 = tempfile.mkdtemp()
        sj2 = P.write_ordered_batches(urls, col("b"), 1, d2 + "/in")
        stream2 = P.read_ordered_batches(self.spark, d2 + "/in", sj2)
        capped = P.cap_per_domain_stream(
            stream2, col("id"), col("url"), 2, "ts", "30 days")
        out2 = P.drain_to_parquet(capped, d2 + "/out", d2 + "/cp")
        admitted = {(r["docId"], r["domain"], r["rank"]) for r in out2.collect()}
        self.assertEqual(admitted, {(1, "example.com", 1), (2, "example.com", 2),
                                    (4, "other.org", 1)})

    def test_pipeline_int8(self):
        from graftspark import pipeline as P
        from pyspark.sql.types import (ArrayType, FloatType, LongType,
                                       StructField, StructType)
        schema = StructType([StructField("id", LongType()),
                             StructField("vec", ArrayType(FloatType()))])
        df = self.spark.createDataFrame(
            [(1, [0.5, -1.0]), (2, [1.0, 0.0]), (3, [0.9, 0.1])], schema)
        row = df.select(
            P.int8_encode_ints(col("vec")).alias("codes"),
            P.int8_scale(col("vec")).alias("s"),
            P.int8_dot(P.int8_encode(col("vec")),
                       P.int8_encode(col("vec"))).alias("dd")).collect()[0]
        self.assertEqual(list(row["codes"]), [64, -127])
        self.assertAlmostEqual(row["s"], 1.0 / 127.0)
        self.assertEqual(row["dd"], 64 * 64 + 127 * 127)
        topk = P.int8_brute_force_top_k(
            df.filter(col("id") == 2), df, col("id"), col("vec"),
            col("id"), col("vec"), k=1).collect()
        # vec 3 is nearly parallel to vec 2; vec 1 points elsewhere
        self.assertEqual([(r["query_id"], r["neighbor_id"]) for r in topk],
                         [(2, 3)])

    def test_pipeline_band_plan(self):
        from graftspark import pipeline as P
        self.assertAlmostEqual(P.band_threshold(16, 8), (1 / 16) ** (1 / 8))
        self.assertEqual(P.band_collision_probability(1.0, 16, 8), 1.0)
        self.assertAlmostEqual(P.band_collision_probability(0.5, 1, 4), 0.0625)
        # for 128 hashes at target 0.8 the planner lands on the repo's
        # documented default banding (16 bands x 8 rows, waterline ~0.707)
        plan = P.plan_bands(128, 0.8)
        self.assertEqual((plan["bands"], plan["rows_per_band"]), (16, 8))
        self.assertLessEqual(plan["threshold"], 0.8)
        self.assertGreater(plan["recall_at_target"], 0.9)
        with self.assertRaises(ValueError):
            P.plan_bands(1, 0.8)

    def test_pipeline_bitsign_hamming(self):
        from graftspark import pipeline as P
        from pyspark.sql.types import (ArrayType, FloatType, LongType,
                                       StructField, StructType)
        schema = StructType([StructField("id", LongType()),
                             StructField("vec", ArrayType(FloatType()))])
        df = self.spark.createDataFrame(
            [(1, [0.5, -1.0, 0.0, -0.0]),
             (2, [1.0, -2.0, 3.0, 4.0]),
             (3, [-1.0, 1.0, -1.0, -1.0])], schema)
        row = df.filter(col("id") == 1).select(
            P.bit_sign_pack(col("vec")).alias("w"),
            P.hamming_words(P.bit_sign_pack(col("vec")),
                            P.bit_sign_pack(col("vec"))).alias("h")).collect()[0]
        self.assertEqual(list(row["w"]), [13])  # bits 0, 2, 3
        self.assertEqual(row["h"], 0)
        # id 2 shares id 1's sign pattern exactly; id 3 inverts it
        topk = P.hamming_brute_force_top_k(
            df.filter(col("id") == 1), df, col("id"), col("vec"),
            col("id"), col("vec"), k=2).collect()
        self.assertEqual([(r["neighbor_id"], r["hamming"]) for r in topk],
                         [(2, 0), (3, 4)])
        rr = P.hamming_top_k(
            df.filter(col("id") == 1), df, col("id"), col("vec"),
            col("id"), col("vec"), k=1, refine=2).collect()
        self.assertEqual([(r["query_id"], r["neighbor_id"]) for r in rr],
                         [(1, 2)])

    def test_pipeline_repeat_to_token_budget(self):
        from graftspark import pipeline as P
        df = self.spark.createDataFrame(
            [(i, "a", 10) for i in range(20)] +
            [(i + 100, "b", 100) for i in range(20)],
            ["id", "dom", "toks"])
        # budget 1600: a targets 800 tokens over T_a=200 -> 4 full epochs;
        # b targets 800 over T_b=2000 -> 0 full epochs + 0.4 fraction
        out = P.repeat_to_token_budget(
            df, col("dom"), col("toks"), col("id"),
            {"a": 0.5, "b": 0.5}, budget=1600, max_epochs=8)
        rows = out.collect()
        a = [r for r in rows if r["dom"] == "a"]
        b = [r for r in rows if r["dom"] == "b"]
        self.assertEqual(len(a), 80)  # 20 docs x 4 epochs exactly
        self.assertEqual(sorted({r["epoch"] for r in a}), [1, 2, 3, 4])
        self.assertTrue(0 < len(b) < 20)  # fractional epoch, rate 0.4
        self.assertTrue(all(r["epoch"] == 1 for r in b))

    def test_pipeline_ann_index_append(self):
        import tempfile
        from graftspark import pipeline as P
        from pyspark.sql.types import (ArrayType, FloatType, LongType,
                                       StructField, StructType)
        import random
        rng = random.Random(5)
        centers = [[rng.gauss(0, 1) for _ in range(8)] for _ in range(3)]
        schema = StructType([StructField("id", LongType()),
                             StructField("vec", ArrayType(FloatType()))])
        rows = [(int(i), [c + rng.gauss(0, 0.05) for c in centers[i % 3]])
                for i in range(24)]
        df = self.spark.createDataFrame(rows, schema)
        ix = P.train_ivf(df, col("id"), col("vec"), k=3, iterations=2)
        pq = P.train_pq(df, col("id"), col("vec"), dim=8, m=2, ksub=4, iterations=2)
        d = tempfile.mkdtemp()
        P.save_ann_index(df, col("id"), col("vec"), ix, pq, d + "/full")
        P.save_ann_index(df.filter(col("id") % 2 == 0), col("id"), col("vec"),
                         ix, pq, d + "/grown")
        P.append_to_ann_index(df.filter(col("id") % 2 == 1), col("id"),
                              col("vec"), d + "/grown")
        def q(path):
            return sorted((r["query_id"], r["rank"], r["neighbor_id"])
                          for r in P.ivf_pq_top_k_indexed(
                              df.filter(col("id") < 3), col("id"), col("vec"),
                              path, 3, nprobe=2, refine=4).collect())
        self.assertEqual(q(d + "/full"), q(d + "/grown"))

    def test_pipeline_semantic_dedup(self):
        from graftspark import pipeline as P
        from pyspark.sql.types import (ArrayType, FloatType, LongType,
                                       StructField, StructType)
        import random
        rng = random.Random(11)
        centers = [[rng.gauss(0, 1) for _ in range(8)] for _ in range(3)]
        rows = []
        for i in range(24):
            c = centers[i % 3]
            rows.append((i, [float(x + rng.gauss(0, 0.02)) for x in c]))
        schema = StructType([StructField("id", LongType()),
                             StructField("vec", ArrayType(FloatType()))])
        df = self.spark.createDataFrame(rows, schema)
        index = P.train_ivf(df, col("id"), col("vec"), k=3, iterations=3)
        assigned = P.ivf_assign(df, col("id"), col("vec"), index).collect()
        self.assertEqual(len(assigned), 24)
        pairs = P.semantic_dup_pairs(df, col("id"), col("vec"), index,
                                     threshold=0.99).collect()
        self.assertTrue(all(r["idA"] < r["idB"] for r in pairs))
        self.assertTrue(len(pairs) > 0)
        kept = {r["id"] for r in P.deduplicate_semantic(
            df, col("id"), col("vec"), index, threshold=0.99).collect()}
        dropped = {r["idB"] for r in pairs}
        self.assertEqual(kept, {i for i in range(24)} - dropped)

    def test_pipeline_pair_operators_hold_no_cache(self):
        """Each pair operator returns its pairs pinned and leaves the JVM
        CacheManager as it found it."""
        from graftspark import pipeline as P
        from pyspark.sql.types import (ArrayType, FloatType, LongType,
                                       StructField, StructType)
        cache = self.spark._jsparkSession.sharedState().cacheManager()
        a = "the quick brown fox jumps over the lazy dog by the river bank"
        b = "a completely different sentence about parquet footers and schemas"
        c = "some other words entirely regarding sourdough bread and oven heat"
        docs = self.spark.createDataFrame([(1, a), (2, a), (3, b)], ["id", "text"])
        corpus = self.spark.createDataFrame([(10, a), (11, c)], ["id", "text"])
        reference = self.spark.createDataFrame([(1, a), (2, b)], ["id", "text"])
        idx = tempfile.mkdtemp() + "/index"
        P.save_dedup_index(reference, "id", "text", idx)

        def pairs(df):
            return sorted((r["idA"], r["idB"]) for r in df.collect())

        def ids(df):
            return sorted(r["id"] for r in df.collect())

        calls = [
            ("near_dup_pairs_minhash", lambda: P.near_dup_pairs_minhash(
                docs, "id", "text"), pairs, [(1, 2)]),
            ("deduplicate_minhash", lambda: P.deduplicate_minhash(
                docs, "id", "text"), ids, [1, 3]),
            ("near_dup_pairs_minhash_against", lambda: P.near_dup_pairs_minhash_against(
                corpus, reference, "id", "text"), pairs, [(10, 1)]),
            ("jaccard_join_prefix", lambda: P.jaccard_join_prefix(
                docs, "id", "text"), pairs, [(1, 2)]),
            ("near_dup_pairs_against_index", lambda: P.near_dup_pairs_against_index(
                corpus, "id", "text", idx), pairs, [(10, 1)]),
        ]
        for name, call, rows, expected in calls:
            self.spark.catalog.clearCache()
            out = call()
            self.assertTrue(cache.isEmpty(), f"{name} left a cache entry")
            self.assertEqual(rows(out), expected, name)

        import random
        rng = random.Random(11)
        centers = [[rng.gauss(0, 1) for _ in range(8)] for _ in range(3)]
        vecs = self.spark.createDataFrame(
            [(i, [float(x + rng.gauss(0, 0.02)) for x in centers[i % 3]])
             for i in range(24)],
            StructType([StructField("id", LongType()),
                        StructField("vec", ArrayType(FloatType()))]))
        index = P.train_ivf(vecs, col("id"), col("vec"), k=3, iterations=3)
        self.spark.catalog.clearCache()
        sem = P.semantic_dup_pairs(vecs, col("id"), col("vec"), index, threshold=0.99)
        self.assertTrue(cache.isEmpty(), "semantic_dup_pairs left a cache entry")
        self.assertTrue(len(pairs(sem)) > 0)

    def test_pipeline_rrf_fuse(self):
        from graftspark import pipeline as P
        a = self.spark.createDataFrame(
            [(1, 10, 1), (1, 11, 2), (2, 20, 1)], ["query_id", "doc_id", "rank"])
        b = self.spark.createDataFrame(
            [(1, 11, 1), (2, 21, 1), (2, 20, 2)], ["query_id", "doc_id", "rank"])
        fused = P.rrf_fuse([a, b], k=10).collect()
        by_qd = {(r["query_id"], r["doc_id"]): r for r in fused}
        # doc 11 hit by both lists: 1000000 // 62 + 1000000 // 61
        self.assertEqual(by_qd[(1, 11)]["rrf_scaled"],
                         1000000 // 62 + 1000000 // 61)
        self.assertEqual(by_qd[(1, 11)]["rank"], 1)
        self.assertEqual(by_qd[(1, 10)]["rrf_scaled"], 1000000 // 61)
        self.assertEqual(by_qd[(2, 20)]["rrf_scaled"],
                         1000000 // 61 + 1000000 // 62)

    @staticmethod
    def _make_wheel(directory: str) -> str:
        """A minimal offline-installable wheel (zero-egress test env)."""
        name, version = "graftdemo", "0.0.1"
        whl = os.path.join(directory, f"{name}-{version}-py3-none-any.whl")
        dist = f"{name}-{version}.dist-info"
        with zipfile.ZipFile(whl, "w") as z:
            z.writestr(f"{name}/__init__.py", "MAGIC = 42\n")
            z.writestr(f"{dist}/METADATA",
                       f"Metadata-Version: 2.1\nName: {name}\nVersion: {version}\n")
            z.writestr(f"{dist}/WHEEL",
                       "Wheel-Version: 1.0\nGenerator: graft\nRoot-Is-Purelib: true\nTag: py3-none-any\n")
            z.writestr(f"{dist}/RECORD",
                       f"{name}/__init__.py,,\n{dist}/METADATA,,\n{dist}/WHEEL,,\n{dist}/RECORD,,\n")
        return whl


class PureDiffParityTest(unittest.TestCase):
    """The pure-Python diff engine (Spark Connect path) must agree with the
    JVM engine row-for-row and column-for-column on the same inputs."""

    spark: SparkSession = None

    @classmethod
    def setUpClass(cls):
        jar = _graft_jar()
        cls.spark = (
            SparkSession.builder
            .master("local[2]")
            .appName("graftspark-pure-parity")
            .config("spark.jars", jar)
            .config("spark.driver.extraClassPath", jar)
            .config("spark.sql.shuffle.partitions", "2")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.ui.enabled", "false")
            .getOrCreate())

    @classmethod
    def tearDownClass(cls):
        cls.spark.stop()

    def _fixture(self):
        from pyspark.sql.types import (StringType, IntegerType, DoubleType,
                                       StructField, StructType, TimestampType)
        from datetime import datetime
        schema = StructType([
            StructField("id", IntegerType()),
            StructField("num", DoubleType()),
            StructField("txt", StringType()),
            StructField("ts", TimestampType()),
            StructField("meta", StringType()),
        ])
        t = datetime(2024, 5, 1, 12, 0, 0)
        t2 = datetime(2024, 5, 1, 12, 0, 30)
        t3 = datetime(2024, 5, 3, 0, 0, 0)
        left = self.spark.createDataFrame([
            (1, 100.0, "same  text", t, "L1"),
            (2, 1.0, "left only txt", t, "L2"),
            (3, 5.0, "gone", t, "L3"),
            (5, None, None, None, None),
            (6, 2.5, "ws  variant", t, "L6"),
        ], schema)
        right = self.spark.createDataFrame([
            (1, 100.0000004, "same text ", t2, "R1"),
            (2, 9.0, "right txt", t3, "R2"),
            (4, 7.0, "new", t, "R4"),
            (5, None, None, None, "R5"),
            (6, 2.5, "ws variant", t, None),
        ], schema)
        return left, right

    def _map_fixture(self):
        from pyspark.sql.types import (IntegerType, MapType, StringType,
                                       StructField, StructType)
        schema = StructType([
            StructField("id", IntegerType()),
            StructField("tags", MapType(StringType(), IntegerType())),
        ])
        left = self.spark.createDataFrame([
            (1, {"a": 1, "b": 2}),
            (2, {"a": 1}),
            (3, None),
            (4, {"x": None}),
        ], schema)
        right = self.spark.createDataFrame([
            (1, {"b": 2, "a": 1}),
            (2, {"a": 2}),
            (3, None),
            (4, {"x": None}),
        ], schema)
        return left, right

    def _assert_parity(self, options=None, id_columns=("id",), ignore_columns=None,
                       with_=False, fixture=None):
        from graftspark.diff import diff, diff_with
        fn = diff_with if with_ else diff
        left, right = fixture or self._fixture()
        kwargs = dict(options=options, ignore_columns=list(ignore_columns or []))
        jvm = fn(left, right, *id_columns, engine="jvm", **kwargs)
        pure = fn(left, right, *id_columns, engine="pure", **kwargs)
        self.assertEqual(jvm.columns, pure.columns)
        key = lambda r: repr(r)
        self.assertEqual(sorted(jvm.collect(), key=key), sorted(pure.collect(), key=key))

    def test_parity_default(self):
        self._assert_parity()

    def test_parity_modes_sparse_change(self):
        from graftspark.diff import DiffMode, DiffOptions
        for mode in DiffMode:
            for sparse in (False, True):
                options = (DiffOptions()
                           .with_diff_mode(mode)
                           .with_sparse_mode(sparse)
                           .with_change_column("changes"))
                with self.subTest(mode=mode, sparse=sparse):
                    self._assert_parity(options=options)

    def test_parity_ignore_columns(self):
        from graftspark.diff import DiffMode, DiffOptions
        for mode in DiffMode:
            with self.subTest(mode=mode):
                self._assert_parity(options=DiffOptions().with_diff_mode(mode),
                                    ignore_columns=["meta"])

    def test_parity_comparators(self):
        from datetime import timedelta
        from graftspark.diff import DiffComparators, DiffOptions, diff
        options = (DiffOptions()
                   .with_data_type_comparator(DiffComparators.epsilon(1e-6), "double")
                   .with_column_name_comparator(DiffComparators.string(True), "txt")
                   .with_column_name_comparator(
                       DiffComparators.duration(timedelta(minutes=1)), "ts"))
        self._assert_parity(options=options)
        left, right = self._fixture()
        for engine in ("jvm", "pure"):
            actions = {r.id: r.diff
                       for r in diff(left, right, "id", options=options,
                                     ignore_columns=["meta"], engine=engine).collect()}
            # row 1 differs only within tolerances (epsilon/whitespace/duration) -> N
            self.assertEqual(actions[1], "N", engine)
            self.assertEqual(actions[2], "C", engine)
            # row 6: whitespace-agnostic txt + equal num/ts, meta ignored -> N
            self.assertEqual(actions[6], "N", engine)

    def test_parity_map_comparator(self):
        from graftspark.diff import DiffComparators, DiffOptions, diff
        for sensitive in (False, True):
            options = DiffOptions().with_data_type_comparator(
                DiffComparators.map(key_order_sensitive=sensitive), "map<string,int>")
            with self.subTest(key_order_sensitive=sensitive):
                self._assert_parity(options=options, fixture=self._map_fixture())
        # Orderless semantics: permuted keys equal, changed value differs.
        # (Key-order sensitivity itself is asserted in the Scala suite; Python
        # dict -> Spark map ingestion does not preserve a testable key order.)
        left, right = self._map_fixture()
        for engine in ("jvm", "pure"):
            orderless = DiffOptions().with_data_type_comparator(
                DiffComparators.map(False), "map<string,int>")
            a1 = {r.id: r.diff for r in diff(left, right, "id", options=orderless,
                                             engine=engine).collect()}
            self.assertEqual((a1[1], a1[2], a1[3], a1[4]), ("N", "C", "N", "N"), engine)

    def test_parity_diff_with(self):
        self._assert_parity(with_=True)

    def test_parity_custom_values_and_prefixes(self):
        from graftspark.diff import DiffOptions
        options = (DiffOptions()
                   .with_diff_column("verdict")
                   .with_left_column_prefix("before")
                   .with_right_column_prefix("after")
                   .with_insert_diff_value("ADD")
                   .with_change_diff_value("CHG")
                   .with_delete_diff_value("DEL")
                   .with_nochange_diff_value("OK"))
        self._assert_parity(options=options)

    def test_pure_schema_errors(self):
        from graftspark.diff import diff
        left, right = self._fixture()
        with self.assertRaisesRegex(ValueError, "id columns do not exist"):
            diff(left, right, "nope", engine="pure")
        with self.assertRaisesRegex(ValueError, "same schema"):
            diff(left.drop("num"), right, "id", engine="pure")
        with self.assertRaisesRegex(ValueError, "duplicate columns"):
            diff(left.select("id", col("num"), col("num")), right, "id", engine="pure")

    def test_pure_no_value_columns_with_change_column(self):
        from graftspark.diff import DiffOptions, diff
        left = self.spark.createDataFrame([(1,), (2,)], ["id"])
        right = self.spark.createDataFrame([(2,), (3,)], ["id"])
        options = DiffOptions().with_change_column("changes")
        for engine in ("jvm", "pure"):
            rows = {r.id: r for r in diff(left, right, "id", options=options,
                                          engine=engine).collect()}
            self.assertEqual(rows[2].changes, [], engine)
            self.assertIsNone(rows[1].changes, engine)
            self.assertIsNone(rows[3].changes, engine)

    def test_iso_duration_roundtrip(self):
        from datetime import timedelta
        from graftspark.diff import _parse_iso_duration, _to_iso_duration
        self.assertEqual(_parse_iso_duration("PT24H"), timedelta(hours=24))
        self.assertEqual(_parse_iso_duration("P1DT2H3M4.5S"),
                         timedelta(days=1, hours=2, minutes=3, seconds=4.5))
        self.assertEqual(_parse_iso_duration(_to_iso_duration(timedelta(seconds=90.25))),
                         timedelta(seconds=90.25))
        with self.assertRaises(ValueError):
            _parse_iso_duration("P")


class DiffMatrixTest(unittest.TestCase):
    """Mode x sparse x ignore golden-value matrix and collision error cases,
    run against BOTH engines (mirrors the Scala DiffMatrixSuite; reference
    python/test/test_diff.py scenario coverage)."""

    spark: SparkSession = None
    ENGINES = ("jvm", "pure")

    @classmethod
    def setUpClass(cls):
        jar = _graft_jar()
        cls.spark = (
            SparkSession.builder
            .master("local[2]")
            .appName("graftspark-diff-matrix")
            .config("spark.jars", jar)
            .config("spark.driver.extraClassPath", jar)
            .config("spark.sql.shuffle.partitions", "2")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.ui.enabled", "false")
            .getOrCreate())

    @classmethod
    def tearDownClass(cls):
        cls.spark.stop()

    def _gold(self):
        left = self.spark.createDataFrame(
            [(1, "one", 10), (2, "two", 20), (3, "three", 30)], ["id", "s", "n"])
        right = self.spark.createDataFrame(
            [(1, "one", 10), (2, "two!", 20), (4, "four", 40)], ["id", "s", "n"])
        return left, right

    def _ign(self):
        left = self.spark.createDataFrame(
            [(1, "a1", "x"), (2, "a2", "x"), (3, "a3", "x")], ["id", "a", "ign"])
        right = self.spark.createDataFrame(
            [(1, "a1", "y"), (2, "a2!", "y"), (4, "a4", "y")], ["id", "a", "ign"])
        return left, right

    def _run(self, mode=None, sparse=False, ignore=None, fixture=None, **opt_kwargs):
        from graftspark.diff import DiffMode, DiffOptions, diff
        left, right = fixture or self._gold()
        results = {}
        for engine in self.ENGINES:
            options = DiffOptions()
            if mode is not None:
                options = options.with_diff_mode(mode)
            options = options.with_sparse_mode(sparse)
            for k, v in opt_kwargs.items():
                options = getattr(options, f"with_{k}")(v)
            df = diff(left, right, "id", options=options,
                      ignore_columns=list(ignore or []), engine=engine)
            results[engine] = (df.columns, sorted(tuple(r) for r in df.collect()))
        self.assertEqual(results["jvm"], results["pure"])
        return results["jvm"]

    # --- golden mode x sparse -------------------------------------------------

    def test_matrix_cbc_dense(self):
        cols, rows = self._run()
        self.assertEqual(cols, ["diff", "id", "left_s", "right_s", "left_n", "right_n"])
        self.assertEqual(rows, sorted([
            ("N", 1, "one", "one", 10, 10),
            ("C", 2, "two", "two!", 20, 20),
            ("D", 3, "three", None, 30, None),
            ("I", 4, None, "four", None, 40)]))

    def test_matrix_cbc_sparse(self):
        _, rows = self._run(sparse=True)
        self.assertEqual(rows, sorted([
            ("N", 1, None, None, None, None),
            ("C", 2, "two", "two!", None, None),
            ("D", 3, "three", None, 30, None),
            ("I", 4, None, "four", None, 40)]))

    def test_matrix_sidebyside_dense(self):
        from graftspark.diff import DiffMode
        cols, rows = self._run(mode=DiffMode.SideBySide)
        self.assertEqual(cols, ["diff", "id", "left_s", "left_n", "right_s", "right_n"])
        self.assertIn(("C", 2, "two", 20, "two!", 20), rows)

    def test_matrix_sidebyside_sparse(self):
        from graftspark.diff import DiffMode
        _, rows = self._run(mode=DiffMode.SideBySide, sparse=True)
        self.assertIn(("N", 1, None, None, None, None), rows)
        self.assertIn(("C", 2, "two", None, "two!", None), rows)

    def test_matrix_leftside_dense_sparse(self):
        from graftspark.diff import DiffMode
        cols, rows = self._run(mode=DiffMode.LeftSide)
        self.assertEqual(cols, ["diff", "id", "s", "n"])
        self.assertIn(("I", 4, None, None), rows)
        _, sparse_rows = self._run(mode=DiffMode.LeftSide, sparse=True)
        self.assertIn(("C", 2, "two", None), sparse_rows)

    def test_matrix_rightside_dense_sparse(self):
        from graftspark.diff import DiffMode
        cols, rows = self._run(mode=DiffMode.RightSide)
        self.assertEqual(cols, ["diff", "id", "s", "n"])
        self.assertIn(("I", 4, "four", 40), rows)
        _, sparse_rows = self._run(mode=DiffMode.RightSide, sparse=True)
        self.assertIn(("C", 2, "two!", None), sparse_rows)

    # --- ignore x mode x sparse ----------------------------------------------

    def test_matrix_ignore_cbc(self):
        cols, rows = self._run(ignore=["ign"], fixture=self._ign())
        self.assertEqual(cols, ["diff", "id", "left_a", "right_a", "left_ign", "right_ign"])
        # ign differs everywhere but must not trigger C
        self.assertIn(("N", 1, "a1", "a1", "x", "y"), rows)
        self.assertIn(("C", 2, "a2", "a2!", "x", "y"), rows)

    def test_matrix_ignore_sidebyside(self):
        from graftspark.diff import DiffMode
        cols, _ = self._run(mode=DiffMode.SideBySide, ignore=["ign"], fixture=self._ign())
        self.assertEqual(cols, ["diff", "id", "left_a", "left_ign", "right_a", "right_ign"])

    def test_matrix_ignore_one_sided(self):
        from graftspark.diff import DiffMode
        cols, rows = self._run(mode=DiffMode.LeftSide, ignore=["ign"], fixture=self._ign())
        self.assertEqual(cols, ["diff", "id", "a", "ign"])
        self.assertIn(("N", 1, "a1", "x"), rows)
        cols_r, rows_r = self._run(mode=DiffMode.RightSide, ignore=["ign"], fixture=self._ign())
        self.assertEqual(cols_r, ["diff", "id", "a", "ign"])
        self.assertIn(("N", 1, "a1", "y"), rows_r)

    def test_matrix_ignore_sparse_keeps_differing_ignored(self):
        _, rows = self._run(sparse=True, ignore=["ign"], fixture=self._ign())
        self.assertIn(("N", 1, None, None, "x", "y"), rows)
        self.assertIn(("C", 2, "a2", "a2!", "x", "y"), rows)

    def test_matrix_change_column_excludes_ignored(self):
        cols, rows = self._run(ignore=["ign"], fixture=self._ign(), change_column="changed")
        self.assertEqual(cols[:3], ["diff", "changed", "id"])
        by_id = {r[2]: r for r in rows}
        self.assertEqual(by_id[1][1], [])      # only ign differs -> empty, not ["ign"]
        self.assertEqual(by_id[2][1], ["a"])
        self.assertIsNone(by_id[3][1])
        self.assertIsNone(by_id[4][1])

    def test_matrix_similar_per_side_ignored(self):
        left = self.spark.createDataFrame([(1, "v", "L1")], ["id", "v", "meta"])
        right = self.spark.createDataFrame([(1, "v", "R1")], ["id", "v", "info"])
        cols, rows = self._run(ignore=["meta", "info"],
                               fixture=(left, right))
        self.assertEqual(cols, ["diff", "id", "left_v", "right_v", "left_meta", "right_info"])
        self.assertEqual(rows, [("N", 1, "v", "v", "L1", "R1")])

    def test_matrix_ignored_different_types(self):
        left = self.spark.createDataFrame([(1, "v", 10)], ["id", "v", "meta"])
        right = self.spark.createDataFrame([(1, "v", "ten")], ["id", "v", "meta"])
        _, rows = self._run(ignore=["meta"], fixture=(left, right))
        self.assertEqual(rows, [("N", 1, "v", "v", 10, "ten")])

    # --- collisions and errors (pure engine raises ValueError; jvm raises
    # through py4j — both must refuse) ----------------------------------------

    def _fails_both(self, regex, mode=None, ignore=None, fixture=None,
                    id_cols=("id",), **opt_kwargs):
        from graftspark.diff import DiffOptions, diff
        left, right = fixture or self._gold()
        for engine in self.ENGINES:
            options = DiffOptions()
            if mode is not None:
                options = options.with_diff_mode(mode)
            for k, v in opt_kwargs.items():
                options = getattr(options, f"with_{k}")(v)
            with self.assertRaisesRegex(Exception, regex, msg=engine):
                diff(left, right, *id_cols, options=options,
                     ignore_columns=list(ignore or []), engine=engine)

    def test_matrix_collision_diff_named_like_id(self):
        self._fails_both("collide", diff_column="id")

    def test_matrix_collision_prefix_produced_diff(self):
        self._fails_both("collide", diff_column="left_s")

    def test_matrix_collision_change_named_like_id(self):
        self._fails_both("collide", change_column="id")

    def test_matrix_one_sided_tolerates_prefixed_collision(self):
        from graftspark.diff import DiffMode
        cols, _ = self._run(mode=DiffMode.LeftSide, diff_column="left_s")
        self.assertEqual(cols, ["left_s", "id", "s", "n"])

    def test_matrix_one_sided_unprefixed_collision_fails(self):
        from graftspark.diff import DiffMode
        self._fails_both("collide", mode=DiffMode.LeftSide, diff_column="s")
        self._fails_both("collide", mode=DiffMode.RightSide, change_column="s")

    def test_matrix_custom_prefixes_avoid_collision(self):
        left = self.spark.createDataFrame([(1, "x")], ["left_a", "a"])
        self._fails_both("collide", fixture=(left, left), id_cols=("left_a",))
        from graftspark.diff import DiffOptions, diff
        for engine in self.ENGINES:
            options = (DiffOptions().with_left_column_prefix("lhs")
                       .with_right_column_prefix("rhs"))
            df = diff(left, left, "left_a", options=options, engine=engine)
            self.assertEqual(df.columns, ["diff", "left_a", "lhs_a", "rhs_a"], engine)

    def test_matrix_missing_ignore_column(self):
        self._fails_both("ignore columns do not exist", ignore=["ghost"])

    def test_matrix_missing_id_column(self):
        from graftspark.diff import diff
        left, right = self._gold()
        for engine in self.ENGINES:
            with self.assertRaisesRegex(Exception, "id columns do not exist", msg=engine):
                diff(left, right, "nope", engine=engine)

    def test_matrix_dots_in_names(self):
        left = self.spark.createDataFrame([(1, "x")], ["the.id", "the.value"])
        right = self.spark.createDataFrame([(1, "y")], ["the.id", "the.value"])
        from graftspark.diff import diff
        for engine in self.ENGINES:
            df = diff(left, right, "the.id", engine=engine)
            self.assertEqual(df.columns,
                             ["diff", "the.id", "left_the.value", "right_the.value"], engine)
            self.assertEqual([tuple(r) for r in df.collect()], [("C", 1, "x", "y")], engine)

    def test_matrix_dots_in_diff_column_and_prefixes(self):
        from graftspark.diff import DiffOptions, diff
        left, right = self._gold()
        for engine in self.ENGINES:
            options = (DiffOptions().with_diff_column("the.diff")
                       .with_left_column_prefix("l.p").with_right_column_prefix("r.p"))
            df = diff(left, right, "id", options=options, engine=engine)
            self.assertEqual(df.columns,
                             ["the.diff", "id", "l.p_s", "r.p_s", "l.p_n", "r.p_n"], engine)

    def test_matrix_no_id_columns_all_id(self):
        from graftspark.diff import diff
        left, right = self._gold()
        for engine in self.ENGINES:
            actions = sorted(r[0] for r in diff(left, right, engine=engine).collect())
            # full-row identity: N for row 1, D+I for every differing/missing row
            self.assertEqual(actions, ["D", "D", "I", "I", "N"], engine)

    def test_matrix_null_ids_match_null_safely(self):
        schema = "k string, v string"
        left = self.spark.createDataFrame([(None, "x"), ("1", "y")], schema)
        right = self.spark.createDataFrame([(None, "x2"), ("1", "y")], schema)
        from graftspark.diff import diff
        for engine in self.ENGINES:
            rows = sorted(tuple(r) for r in diff(left, right, "k", engine=engine).collect())
            self.assertEqual(rows, sorted([("C", None, "x", "x2"), ("N", "1", "y", "y")]), engine)

    def test_matrix_empty_sides(self):
        from graftspark.diff import diff
        left, right = self._gold()
        empty = left.limit(0)
        for engine in self.ENGINES:
            ins = diff(empty, right, "id", engine=engine).collect()
            self.assertEqual(sorted(r[0] for r in ins), ["I", "I", "I"], engine)
            dels = diff(left, empty, "id", engine=engine).collect()
            self.assertEqual(sorted(r[0] for r in dels), ["D", "D", "D"], engine)


if __name__ == "__main__":
    unittest.main(verbosity=2)
