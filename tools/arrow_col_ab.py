#!/usr/bin/env python
"""Isolated boundary microbench for the round-11 Column-surface Arrow
rewrites (the nearest-centroid kernel, now one _nearest_col for
k-means/IVF assignment and PQ encode / _pq_adc_vectorized /
classifier_score wide head): measures, on the EXACT worker input
shape (one Arrow batch of 10k x dim float32 list rows), the per-batch
cost of

  (a) the pandas_udf input path: Arrow -> pandas Series of ndarrays
      (what Spark's serializer does before the UDF runs) + the
      np.asarray boxing the UDF body paid, and
  (b) the arrow_udf input path: _arrow_list_matrix buffer view
      (flatten + reshape + the exact null/ragged guards),

plus the PQ-codes OUTPUT side (pd.Series(list(ndarray)) ->
pa.Array.from_pandas vs ListArray.from_arrays over the flat buffer).

This is the same instrument r10 used for the DataFrame-transform
rewrites (33.3 ms -> 0.63 ms per 10k x 64 batch side): of the benched
fixtures only the IVF ones (nlist 8 x 64 dims) reach these codepaths
(cutovers: more than 32 centroid floats, m*k > 1024 for ADC,
dim > 512), so the evidence is the isolated boundary delta at the
100 TB shapes, not a bench wall.

Usage: python tools/arrow_col_ab.py [rows] [dim] [reps]
"""

from __future__ import annotations

import statistics
import sys
import time

import numpy as np
import pyarrow as pa


def _timeit(fn, reps: int) -> float:
    """Median of `reps` runs, seconds."""
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


def main() -> None:
    rows = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000
    dim = int(sys.argv[2]) if len(sys.argv) > 2 else 768
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 30

    sys.path.insert(0, ".")
    from elusion_spark.operators.similarity import _arrow_list_matrix

    rng = np.random.default_rng(11)
    flat = rng.uniform(-2, 2, rows * dim).astype(np.float32)
    offsets = pa.array(np.arange(0, (rows + 1) * dim, dim, dtype=np.int32))
    arr = pa.ListArray.from_arrays(offsets, pa.array(flat))

    # -- input side: vector list column -> (rows, dim) float64 matrix
    def pandas_path():
        vs = arr.to_pandas()          # Series of ndarrays (the serializer)
        return np.asarray([np.asarray(v, dtype=np.float64) for v in vs])

    def arrow_path():
        return _arrow_list_matrix(arr, "ab", dim)

    a = pandas_path()
    b = arrow_path()
    assert np.array_equal(a, b), "paths disagree"
    t_pd = _timeit(pandas_path, reps)
    t_ar = _timeit(arrow_path, reps)
    print(f"input  {rows}x{dim}: pandas boxing {t_pd * 1e3:8.2f} ms/batch"
          f"  arrow view {t_ar * 1e3:8.2f} ms/batch"
          f"  ({t_pd / max(t_ar, 1e-9):6.1f}x)")

    # -- output side: (rows, m) int32 codes -> Arrow list column
    m = 8
    codes = rng.integers(0, 256, (rows, m)).astype(np.int32)

    def pandas_out():
        import pandas as pd

        s = pd.Series(list(codes))
        return pa.Array.from_pandas(s, type=pa.list_(pa.int32()))

    def arrow_out():
        return pa.ListArray.from_arrays(
            pa.array(np.arange(0, (rows + 1) * m, m, dtype=np.int32)),
            pa.array(codes.reshape(-1)))

    oa = pandas_out()
    ob = arrow_out()
    assert oa.to_pylist() == ob.to_pylist(), "output paths disagree"
    t_pdo = _timeit(pandas_out, reps)
    t_aro = _timeit(arrow_out, reps)
    print(f"output {rows}x{m} codes: pandas Series {t_pdo * 1e3:8.2f} "
          f"ms/batch  arrow flat {t_aro * 1e3:8.2f} ms/batch"
          f"  ({t_pdo / max(t_aro, 1e-9):6.1f}x)")

    # -- the compute the boundary wraps, for proportion: one 256-centroid
    # argmin GEMM on the same batch
    C = rng.uniform(-2, 2, (256, dim))
    c_sq = (C * C).sum(axis=1)
    V = arrow_path()

    def gemm():
        return (c_sq - 2.0 * (V @ C.T)).argmin(axis=1)

    t_g = _timeit(gemm, max(3, reps // 3))
    print(f"argmin GEMM (nlist=256) on the same batch: "
          f"{t_g * 1e3:8.2f} ms/batch "
          f"(boundary was {t_pd / t_g * 100:5.1f}% of compute via pandas, "
          f"{t_ar / t_g * 100:5.1f}% via arrow)")


if __name__ == "__main__":
    main()
