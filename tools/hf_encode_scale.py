#!/usr/bin/env python
"""Imported-HF (ByteLevel) encode at scale (round 9): the
"run a published GPT-2-style tokenizer over the corpus" path —
``hf_tokenizer_encode`` with the ByteLevel pre-tokenizer compiled
into the encode closure — measured against the plain whitespace
``bpe_encode`` at the same merge counts, on sf0.1 documents and the
20k-vocab Zipf corpus.

What the comparison isolates: the per-DISTINCT-word cost of the
python pre-tokenizer (GPT-2 regex emulation + byte→unicode remap)
on top of the shared per-task-memo design.  Both paths are
zero-shuffle; if the memo does its job the ByteLevel overhead is
per-distinct-word, not per-token, and the walls should sit within a
small constant of each other.

Run on an idle machine: python tools/hf_encode_scale.py
Prints one JSON line; numbers go to SCALE.md round 9.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.bpe_encode_scale import _zipf_corpus_df  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
MERGE_COUNTS = [512, 2048, 30000]


def _min2(fn):
    walls = []
    out = None
    for _ in range(2):
        t0 = time.perf_counter()
        out = fn()
        walls.append(round(time.perf_counter() - t0, 3))
    return min(walls), out


def main() -> None:
    from elusion_spark.operators.bpe import bpe_encode, bpe_fit
    from elusion_spark.operators.tokenizer_io import hf_tokenizer_encode
    from elusion_spark.session import get_spark

    spark = get_spark("hf_encode_scale")
    zipf = _zipf_corpus_df(spark).persist()
    zipf.count()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text")

    bl_spec = {"type": "ByteLevel", "add_prefix_space": False,
               "use_regex": True}
    t0 = time.perf_counter()
    bl_merges = bpe_fit(zipf, "text", num_merges=30_000,
                        pre_tokenizer=bl_spec)
    ws_merges = bpe_fit(zipf, "text", num_merges=30_000)
    fit_sec = round(time.perf_counter() - t0, 2)

    out = {"sf_dir": SF_DIR, "fit_both_30k_sec": fit_sec,
           "bytelevel_merges": len(bl_merges), "corpora": {}}
    for cname, df in (("sf01_documents", docs),
                      ("zipf_5k_docs_20k_vocab", zipf)):
        runs = []
        for n in MERGE_COUNTS:
            bl_model = {"kind": "bpe", "merges": bl_merges[:n],
                        "lowercase": True, "pre_tokenizer": bl_spec}
            enc = hf_tokenizer_encode(df, "text", bl_model)
            agg = enc.selectExpr("sum(n_tokens) AS n")
            w_bl, r = _min2(lambda: agg.collect()[0]["n"])
            ws = bpe_encode(df, "text", ws_merges[:n])
            agg2 = ws.selectExpr("sum(n_tokens) AS n")
            w_ws, r2 = _min2(lambda: agg2.collect()[0]["n"])
            runs.append({"num_merges": n,
                         "bytelevel_wall_sec": w_bl,
                         "bytelevel_tokens": int(r),
                         "whitespace_map_wall_sec": w_ws,
                         "whitespace_tokens": int(r2)})
        out["corpora"][cname] = runs
    zipf.unpersist()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
