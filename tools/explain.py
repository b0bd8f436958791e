#!/usr/bin/env python
"""Capture .explain("formatted") for benched queries into plans/<round>/.

Usage:
    python tools/explain.py <round> before [query ...]
    python tools/explain.py <round> after  [query ...]

e.g. ``python tools/explain.py r11 after q76_lm_score_bigram`` writes
plans/r11/q76_lm_score_bigram_after.txt.

With no query names, captures every BENCH_QUERIES entry.  Plans are
captured at sf0.1 (the driver's bench scale) so join-strategy choices
and exchange counts match what the bench times.  Every token that
depends on what the session ran before is masked, so a before/after
pair diffs cleanly and two captures of one query are identical
whatever else their sessions planned: expression ids (``#123``),
exchange ``plan_id`` numbers, ``_common_expr_N`` names, the numbered
lambda variables of Python-built higher-order functions (``x_N``) and
RDD ids (``MapPartitionsRDD[N]`` from ``localCheckpoint`` and
``applySchemaToPythonRDD``).
"""
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import BENCH_QUERIES  # noqa: E402
from elusion_spark.session import get_spark  # noqa: E402
from elusion_spark.suite import QUERIES  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"_common_expr_\d+"), "_common_expr_N"),
    (re.compile(r"(lambda [A-Za-z]+)_\d+"), r"\1_N"),
    (re.compile(r"(\w+RDD)\[\d+\]"), r"\1[N]"),
]


def mask(plan: str) -> str:
    for pat, rep in MASKS:
        plan = pat.sub(rep, plan)
    return plan


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    rnd = sys.argv[1]
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3:] or [n for n in BENCH_QUERIES if n in QUERIES]
    outdir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", rnd)
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark()
    for name in names:
        try:
            df = QUERIES[name](spark, SF)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted"))
            plan = mask(plan)
        except Exception as e:  # noqa: BLE001
            plan = f"ERROR: {e}"
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(name, "ok" if not plan.startswith("ERROR") else plan[:120])


if __name__ == "__main__":
    main()
