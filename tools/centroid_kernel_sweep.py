#!/usr/bin/env python
"""Where the centroid-distance size gate goes: time the two physical
forms of ``assign_clusters_col`` — the unrolled codegen expression and
the numpy GEMM per Arrow batch — over total centroid floats
{8, 16, 32, 64, 128, 256, 512, 1024} at 500 / 2k / 200k rows.

Every pass draws FRESH centroids, which is the Lloyd-loop condition
(``kmeans_fit`` and ``pq_fit`` re-literalize their centroids each
iteration, so the expression form recompiles every pass and the Arrow
form starts a Python stage every pass).  The timed region is one
Lloyd-shaped job: assign every row, group by the assignment, collect
the counts.  Each cell is the min of ``--passes`` timed passes after
one untimed warm pass per form; the forms alternate within a cell.
Both forms are forced by setting ``CENTROID_EXPR_MAX_FLOATS`` for the
duration of the call.  Shape per cell: dim = min(floats / 2, 64),
k = floats / dim (512 floats = 8 centroids x 64 dims, the sf0.1 IVF
shape).

Usage: SPARK_GRAFT_CPUS=4 python tools/centroid_kernel_sweep.py
           [--floats 8,16,...] [--rows 500,2000,200000] [--passes 3]
Prints a table (ms, Arrow / unrolled) and one JSON line.
"""
from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FLOATS = [8, 16, 32, 64, 128, 256, 512, 1024]
ROWS = [500, 2_000, 200_000]
FORMS = {"arrow": 0, "unrolled": 1 << 30}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--floats", default=",".join(map(str, FLOATS)))
    ap.add_argument("--rows", default=",".join(map(str, ROWS)))
    ap.add_argument("--passes", type=int, default=3)
    args = ap.parse_args()
    floats = [int(x) for x in args.floats.split(",")]
    rows = [int(x) for x in args.rows.split(",")]

    from pyspark.sql import functions as F

    from elusion_spark.operators import similarity as S
    from elusion_spark.session import get_spark

    spark = get_spark("centroid_kernel_sweep")
    rng = random.Random(0)
    gate = S.CENTROID_EXPR_MAX_FLOATS

    def one_pass(df, form: str, k: int, dim: int) -> float:
        cents = [[rng.uniform(-1, 1) for _ in range(dim)]
                 for _ in range(k)]
        S.CENTROID_EXPR_MAX_FLOATS = FORMS[form]
        try:
            t0 = time.perf_counter()
            df.groupBy(S.assign_clusters_col("v", cents).alias("c")) \
                .count().collect()
            return time.perf_counter() - t0
        finally:
            S.CENTROID_EXPR_MAX_FLOATS = gate

    out: dict[str, dict[str, dict[str, float]]] = {}
    for fl in floats:
        dim = min(fl // 2, 64)
        k = fl // dim
        for n in rows:
            df = spark.range(n).select(F.expr(
                f"transform(sequence(0, {dim - 1}), "
                f"j -> sin(CAST(id * {dim} + j AS DOUBLE)))").alias("v")
            ).persist()
            df.count()
            walls = {f: [] for f in FORMS}
            for f in FORMS:
                one_pass(df, f, k, dim)  # warm, untimed
            for _ in range(args.passes):
                for f in FORMS:
                    walls[f].append(one_pass(df, f, k, dim))
            df.unpersist()
            cell = {f: round(min(w) * 1000) for f, w in walls.items()}
            out.setdefault(str(fl), {})[str(n)] = cell
            print(f"floats={fl:5d} (k={k} x dim={dim}) rows={n:7d}  "
                  f"arrow={cell['arrow']:6d} ms  "
                  f"unrolled={cell['unrolled']:6d} ms", flush=True)

    print()
    print("floats  " + "  ".join(f"{n:>15d}" for n in rows))
    for fl in floats:
        print(f"{fl:6d}  " + "  ".join(
            f"{out[str(fl)][str(n)]['arrow']:>6d} / "
            f"{out[str(fl)][str(n)]['unrolled']:<6d}" for n in rows))
    print(json.dumps({"gate": gate, "passes": args.passes,
                      "cpus": os.environ.get("SPARK_GRAFT_CPUS"),
                      "ms_arrow_unrolled": out}))


if __name__ == "__main__":
    main()
