#!/usr/bin/env python3
"""Measure the figures the benchmark's input generator takes from the sf0.1
test tables (see TESTDATA.md) and write them to perfbench/testdata_profile.json.

  python3 perfbench/profile_testdata.py <sf0.1 table directory>

The benchmark itself never reads the tables: it generates its inputs from the
seed, shaped by the figures this script recorded. Run it again only when the
tables change, and copy any figure that moves into Gen.scala.
"""
import collections
import json
import os
import sys

import numpy as np
import pyarrow.parquet as pq

OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata_profile.json")


def quantiles(xs, qs=(0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 1.0)):
    return {str(q): float(np.quantile(xs, q)) for q in qs}


def documents(d):
    t = pq.read_table(os.path.join(d, "documents.parquet")).to_pydict()
    texts, langs, sources = t["text"], t["lang"], t["source"]
    n = len(texts)
    by_text = collections.Counter(texts)
    exact = sum(c - 1 for c in by_text.values())
    # a near duplicate is an earlier document with one marker word appended
    bodies = set(texts)
    near = [x for x in texts if " " in x and x.rsplit(" ", 1)[0] in bodies]
    markers = collections.Counter(x.rsplit(" ", 1)[1] for x in near)
    words = collections.Counter(w for x in texts if x not in near for w in x.split(" "))
    total = sum(words.values())
    lengths = [len(x.split(" ")) for x in texts if x not in near]
    return {
        "rows": n,
        "sources": len(set(sources)),
        "docs_per_source": sorted(collections.Counter(sources).values())[::len(set(sources)) - 1],
        "lang_share": {k: round(v / n, 4) for k, v in sorted(collections.Counter(langs).items())},
        "exact_duplicate_share": round(exact / n, 4),
        "near_duplicate_share": round(len(near) / n, 4),
        "near_duplicate_marker": dict(markers),
        "vocabulary": sorted(words),
        "word_share": {w: round(c / total, 4) for w, c in sorted(words.items())},
        "words_per_doc_quantiles": quantiles(lengths),
    }


def embeddings(d):
    t = pq.read_table(os.path.join(d, "embeddings.parquet")).to_pydict()
    x = np.array(t["embedding"], dtype=np.float64)
    labels = np.array(t["label"])
    ls = sorted(set(labels.tolist()))
    cents = np.array([x[labels == l].mean(0) for l in ls])
    return {
        "rows": int(x.shape[0]),
        "dim": int(x.shape[1]),
        "norm_quantiles": quantiles(np.linalg.norm(x, axis=1)),
        "per_dim_std": float(x.std()),
        "labels": len(ls),
        "label_centroid_norm_max": float(np.linalg.norm(cents, axis=1).max()),
    }


def lineitem(d):
    t = pq.read_table(os.path.join(d, "lineitem.parquet"),
                      columns=["l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
                               "l_discount", "l_returnflag", "l_shipdate"]).to_pydict()
    lines = collections.Counter(collections.Counter(t["l_orderkey"]).values())
    orders = sum(lines.values())
    ship = sorted(t["l_shipdate"])
    flags = collections.Counter(t["l_returnflag"])
    n = len(t["l_orderkey"])
    return {
        "rows": n,
        "lines_per_order_share": {str(k): round(v / orders, 5) for k, v in sorted(lines.items())},
        "partkey_range": [min(t["l_partkey"]), max(t["l_partkey"])],
        "quantity_range": [min(t["l_quantity"]), max(t["l_quantity"])],
        "extendedprice_range": [min(t["l_extendedprice"]), max(t["l_extendedprice"])],
        "discount_values": sorted(set(t["l_discount"])),
        "returnflag_share": {k: round(v / n, 4) for k, v in sorted(flags.items())},
        "shipdate_range": [str(ship[0].date()), str(ship[-1].date())],
    }


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    d = sys.argv[1]
    profile = {
        "note": "Measured by perfbench/profile_testdata.py over the sf0.1 test tables (TESTDATA.md).",
        "documents": documents(d),
        "embeddings": embeddings(d),
        "lineitem": lineitem(d),
    }
    with open(OUT, "w") as fh:
        json.dump(profile, fh, indent=1)
        fh.write("\n")
    print(OUT)


if __name__ == "__main__":
    main()
