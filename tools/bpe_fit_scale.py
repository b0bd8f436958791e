#!/usr/bin/env python
"""BPE FIT scale measurement: the production-vocab training wall of
``bpe_fit`` and its Spark job count.

What is measured, on the 20k-word Zipf corpus (the realistic
distinct-word regime from tools/bpe_encode_scale.py, as a Spark
DataFrame — 5k docs x ~100 words):

- ``bpe_fit(num_merges=30000)`` end-to-end wall, split into (a) the
  one corpus-sized word-count job + the bounded collect and (b) the
  driver-side incremental-index merge loop; plus the total Spark JOB
  COUNT (O(1), not O(num_merges)).

Run on an idle machine: python tools/bpe_fit_scale.py
Prints one JSON line; numbers go to SCALE.md round 9.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.bpe_encode_scale import _zipf_corpus_df  # noqa: E402


def _job_count(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(f"{group}_done", f"{group}_done")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def main() -> None:
    from elusion_spark.operators.bpe import bpe_fit, bpe_word_counts
    from elusion_spark.session import get_spark

    spark = get_spark("bpe_fit_scale")
    zipf = _zipf_corpus_df(spark).persist()
    zipf.count()

    out: dict = {"corpus": "zipf_5k_docs_20k_vocab"}

    # (a) 30k merges, end-to-end (cold word counts)
    t0 = time.perf_counter()
    merges30k, jobs = _job_count(
        spark, "fit30k",
        lambda: bpe_fit(zipf, "text", num_merges=30_000))
    out["fit_30k"] = {
        "wall_sec": round(time.perf_counter() - t0, 2),
        "spark_jobs": jobs, "merges_learned": len(merges30k)}

    # (b) split the wall: word counts + collect vs pure driver loop
    t0 = time.perf_counter()
    wc = bpe_word_counts(zipf, "text").persist()
    n_vocab = wc.count()
    out["word_count_job_sec"] = round(time.perf_counter() - t0, 2)
    out["vocab_rows"] = int(n_vocab)
    t0 = time.perf_counter()
    m2 = bpe_fit(None, num_merges=30_000, word_counts=wc)
    out["driver_loop_sec_30k"] = round(time.perf_counter() - t0, 2)
    assert m2 == merges30k

    wc.unpersist()
    zipf.unpersist()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
