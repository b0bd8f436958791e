"""Similarity search over embedding columns (array<float>).

Beyond-parity module (SURVEY §7.2 step 10).

100 TB design notes
-------------------
- *Brute-force top-k* is the correctness baseline: one linear scan, no
  shuffle (the query vector is a literal folded into codegen), then a
  global top-k which Spark executes as per-partition top-k + merge
  (TakeOrderedAndProject) — no full sort.
- *Random-hyperplane LSH* is the scale path for pair search: 16 sign bits
  → 65k buckets → bucket-join candidates → exact cosine verify.  One
  shuffle on the bucket key.
- *IVF* is the scale path for query search: k-means centroids fitted on a
  driver-side SAMPLE (fit is O(sample); assignment is a broadcast of
  nlist·dim floats), stored as a cluster-id column; queries probe only
  ``nprobe`` nearest clusters — partition-prunable when the table is
  written partitioned by cluster id.

Hot-path math stays JVM-side (built-in higher-order functions, or
unrolled codegen expressions for small centroid sets) up to measured
size gates; past them one numpy GEMM per Arrow batch takes over.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _vec_literal(vec: list[float], suffix: str = "") -> str:
    """SQL array literal of ``vec``.  Bare numerics parse as DECIMAL;
    ``suffix="D"`` writes DOUBLE literals."""
    return "array(" + ", ".join(f"{float(x)!r}{suffix}" for x in vec) + ")"


def _length_guard(vec_col: str, dim: int, what: str) -> str:
    """SQL term that is 0, or raises when ``vec_col`` is a non-NULL
    array whose length is not ``dim`` (the message matches
    ``_arrow_list_matrix``'s).  Callers ADD it to a score instead of
    wrapping the score in a ``CASE WHEN`` — see ``_nearest_col`` for why
    and what that costs."""
    return (f"IF({vec_col} IS NOT NULL AND size({vec_col}) <> {dim}, "
            f"raise_error('{what}: expected fixed-length {dim} "
            f"vectors (ragged vectors are not supported)'), 0)")


def _sum_fold(vec_col: str, other, term: str, acc: str = "acc") -> str:
    """SQL: the DOUBLE sum of ``term`` over the element pairs ``(x, y)``
    of ``vec_col`` and ``other``, folded left to right — a deterministic
    element order, and the unrolled ``+`` chain an external SQL replay
    writes.  ``other`` is a SQL array expression or a literal vector.
    ``zip_with`` pads the shorter array with NULLs, so against a literal
    the fold carries ``_length_guard``: a vector whose length is not the
    query's raises instead of scoring NULL.  The guard is the LEFT
    operand because ``+`` skips its right operand once the left is
    NULL, and a padded fold is NULL."""
    if isinstance(other, str):
        return (f"aggregate(zip_with({vec_col}, {other}, (x, y) -> {term}), "
                f"CAST(0 AS DOUBLE), ({acc}, v) -> {acc} + v)")
    return (_length_guard(vec_col, len(other), "query length") + " + "
            + _sum_fold(vec_col, _vec_literal(other), term, acc))


def _norm_sql(arr: str) -> str:
    """SQL: the Euclidean norm of an array, its DOUBLE squares summed
    left to right."""
    return (f"sqrt(aggregate(transform({arr}, x -> CAST(x AS DOUBLE) * "
            f"CAST(x AS DOUBLE)), CAST(0 AS DOUBLE), (acc, v) -> acc + v))")


def _qnorm(query: list[float]) -> float:
    """Driver-side norm of a literal query, in ``_norm_sql``'s order."""
    import math

    return math.sqrt(sum(float(x) * float(x) for x in query))


def _check_query(query: list[float], dim: int, what: str) -> None:
    if len(query) != dim:
        raise ValueError(
            f"{what}: expected a {dim}-value query, got {len(query)} values")


def _topk(frame: DataFrame, score: str, id_col: str, k: int,
          descending: bool) -> DataFrame:
    """The one top-k tail: ``k`` rows by ``score``, ties to the lower
    ``id_col`` — a total order.  Spark runs it as TakeOrderedAndProject
    (a per-partition heap and a driver merge): no sort, no shuffle."""
    s = F.col(score)
    return frame.orderBy(s.desc() if descending else s.asc(),
                         F.col(id_col)).limit(k)


def dot_expr(vec_col: str, query: list[float]) -> Column:
    """Dot product against a literal query vector (``_sum_fold``)."""
    return F.expr(_sum_fold(vec_col, query, "CAST(x AS DOUBLE) * y"))


def norm_expr(vec_col: str) -> Column:
    return F.expr(_norm_sql(vec_col))


def cosine_expr(vec_col: str, query: list[float]) -> Column:
    return (dot_expr(vec_col, query)
            / (norm_expr(vec_col) * F.lit(_qnorm(query)))).alias("cosine")


def _arrow_list_matrix(arr, what: str, dim: int | None = None):
    """Zero-copy (n × dim) float64 view of an Arrow list-of-float column
    — the shared reader for every Arrow-batched vector stage (mapInArrow
    / applyInArrow / arrow_udf).  The values buffer of a list array is
    contiguous, so the read is one ``flatten()`` + ``reshape`` instead
    of boxing a fresh ndarray per row (the boundary cost the r10
    rewrites removed: 33.3 ms → 0.63 ms per 10k×64 batch side).

    Diagnostics are EXACT, not the total-size heuristic (ADVICE r10):
    nulls are rejected by ``null_count`` before any buffer math
    (``flatten()`` silently drops null rows, which would shift every
    subsequent row's alignment), and raggedness is caught per row via
    the list lengths — one null plus one double-length row can pass a
    ``flat.size == n*dim`` check and reshape into garbage.  ``dim=None``
    infers the width from the first row (cogroup GEMMs, where the
    operator does not carry a declared dim)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    if arr.null_count:
        raise ValueError(
            f"{what}: {arr.null_count} null vector rows (of {n}); "
            "null embeddings are not supported — filter them first")
    widths = pc.list_value_length(arr).to_numpy(zero_copy_only=False)
    if dim is None:
        dim = int(widths[0]) if n else 0
    if n:
        bad = np.flatnonzero(widths != dim)
        if bad.size:
            b = int(bad[0])
            raise ValueError(
                f"{what}: expected fixed-length {dim} vectors, row {b} "
                f"has {int(widths[b])} values (ragged vectors are not "
                "supported)")
    flat = arr.flatten().to_numpy(zero_copy_only=False)
    return flat.reshape(n, dim).astype(np.float64, copy=False)


def _check_sample_dims(vecs, dim: int, what: str) -> None:
    """Guard for the driver-side sample fits (ADVICE r10): they read
    their sample through ``np.fromiter(count=n*dim)``, which trusts the
    declared dim — vectors LONGER than dim would silently misalign the
    flat read into garbage rows (fromiter raises only when the iterator
    runs short).  O(n) list ``len`` checks — microseconds next to the
    conversion they protect."""
    for i, v in enumerate(vecs):
        if v is None or len(v) != dim:
            got = "null" if v is None else str(len(v))
            raise ValueError(
                f"{what}: expected {dim}-dim vectors, sampled row {i} "
                f"has {got} values")


def classifier_score(
    df: DataFrame,
    vec_col: str,
    weights: list[float],
    bias: float = 0.0,
    out_col: str = "score",
    threshold: float | None = None,
) -> DataFrame:
    """Linear classifier head over an embedding column:
    ``sigmoid(w·x + b)`` — the quality-filter shape used by fastText /
    DCLM / FineWeb-Edu style curation (score every document with a
    trained linear probe, keep above a threshold).

    Plan shape: pure projection — no shuffle, no join; with
    ``threshold`` the filter composes into the same scan stage.  Small
    heads use a codegen-friendly ``zip_with``/``aggregate`` expression;
    wide heads (dim > 512) switch to one numpy dot per Arrow batch via
    arrow_udf (zero-copy list-buffer read — see
    ``_classifier_score_arrow_col``), the same size-adaptive pattern as
    ``assign_clusters``.  On both sides of the cutover a NULL vector
    scores NULL and a vector whose length is not ``len(weights)``
    raises."""
    dim = len(weights)
    if dim <= 512:
        dot = dot_expr(vec_col, [float(w) for w in weights])
        score = F.lit(1.0) / (F.lit(1.0)
                              + F.exp(-(dot + F.lit(float(bias)))))
    else:
        score = _classifier_score_arrow_col(vec_col, weights, bias)
    out = df.withColumn(out_col, score)
    if threshold is not None:
        out = out.filter(F.col(out_col) >= float(threshold))
    return out


def _classifier_score_arrow_col(vec_col: str, weights: list[float],
                                bias: float) -> Column:
    """Wide-head ``sigmoid(w·x + b)`` as one numpy GEMV per Arrow batch
    (arrow_udf).  The r10 boundary discipline applied to the Column
    surface (guide §4.2): the vector column is read as ONE contiguous
    buffer view (``_arrow_list_matrix``), no per-row ndarray boxing;
    float64 ``V @ W + b`` / sigmoid arithmetic, pinned against numpy
    by ``test_classifier_score_arrow_parity``.  NULL vectors score NULL,
    as in the expression form (``_nearest_col``'s valid mask)."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.functions import arrow_udf

    W = np.asarray(weights, dtype=np.float64)
    b = float(bias)
    dim = len(weights)

    def _score(vs: "pa.Array") -> "pa.Array":
        valid = vs.is_valid().to_numpy(zero_copy_only=False)
        V = _arrow_list_matrix(vs.drop_null() if vs.null_count else vs,
                               "classifier_score", dim)
        out = np.zeros(len(vs), dtype=np.float64)
        out[valid] = 1.0 / (1.0 + np.exp(-(V @ W + b)))
        return pa.array(out, mask=~valid, type=pa.float64())

    _score.__annotations__ = {"vs": pa.Array, "return": pa.Array}
    return arrow_udf(_score, "double")(F.col(vec_col))


def l2_normalize_expr(vec_col: str) -> Column:
    """Unit-normalize an ``array`` vector column (zero vectors pass
    through unchanged rather than dividing by zero).  Normalize ONCE at
    ingest and L2/ADC ranking becomes cosine ranking — the standard
    trick that lets one compressed index serve both metrics.  Pure
    expression; composes into the scan."""
    nrm = _norm_sql(vec_col)
    return F.expr(
        f"CASE WHEN {nrm} = 0.0 THEN transform({vec_col}, "
        f"x -> CAST(x AS DOUBLE)) "
        f"ELSE transform({vec_col}, x -> CAST(x AS DOUBLE) / {nrm}) END"
    )


def cosine_topk(
    df: DataFrame, vec_col: str, id_col: str, query: list[float], k: int = 10
) -> DataFrame:
    """Brute-force cosine top-k — the exact baseline. Executes as a single
    scan + TakeOrderedAndProject (per-partition heap + driver merge)."""
    return _topk(
        df.select(F.col(id_col), cosine_expr(vec_col, query).alias("cosine")),
        "cosine", id_col, k, True)


# ---------------------------------------------------------------- lsh pairs

def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (no numpy dependency in the
    hot path; generated once driver-side and folded into the plan)."""
    import random

    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def _norm_buckets_arrow_fn(dim: int, n_planes: int, n_tables: int,
                           seed: int):
    """Arrow-native (norm, buckets) computation for
    ``embedding_near_dup_pairs`` — one mapInArrow pass (guide §4.2).

    Reads the Arrow list buffer directly (``ListArray.flatten`` →
    one contiguous float buffer → reshape) instead of paying the
    pandas conversion (measured ~21 ms per 10k×64 batch for the
    ``Series.tolist`` path vs ~0.01 ms for the buffer view — the
    boundary cost, not the GEMM, dominated the python stage).  The id
    and vector columns pass through as the SAME Arrow arrays (no
    python-side copy; one extra socket memcpy on the way back, which
    is why the function emits ONE row per input row and leaves the
    per-table explode to the JVM — emitting the exploded form here
    would ship every vector ``n_tables``× across the boundary).
    Per-row arithmetic is a float64 GEMM against the plane matrix, the
    sign/pack rule and ``linalg.norm``; buckets and norms equal numpy
    on the same inputs (``test_norm_buckets_arrow_parity``).

    Input batches must carry exactly (__id, __v); output rows are
    (__id, __v, __norm, __buckets[n_tables])."""
    import numpy as np

    planes = np.array(
        [
            _hyperplanes(dim, n_planes, seed + 7919 * t)
            for t in range(n_tables)
        ],
        dtype=np.float64,
    ).reshape(n_tables * n_planes, dim)
    weights = 1 << np.arange(n_planes, dtype=np.int64)

    def _fn(batches):
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            idc = batch.column(0)
            vec = batch.column(1)
            # exact null/ragged diagnostics (ADVICE r10), zero-copy read
            m = _arrow_list_matrix(vec, "_norm_buckets_arrow_fn", dim)
            signs = (m @ planes.T) >= 0
            bks = np.stack(
                [
                    signs[:, t * n_planes:(t + 1) * n_planes] @ weights
                    for t in range(n_tables)
                ],
                axis=1,
            ).astype(np.int32)
            norm = np.linalg.norm(m, axis=1)
            buckets = pa.ListArray.from_arrays(
                pa.array(np.arange(0, (n + 1) * n_tables, n_tables,
                                   dtype=np.int32)),
                pa.array(bks.reshape(-1)),
            )
            yield pa.RecordBatch.from_arrays(
                [idc, vec, pa.array(norm, type=pa.float64()), buckets],
                names=["__id", "__v", "__norm", "__buckets"],
            )

    return _fn


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Small single-file inputs arrive as one partition; CPU-bound vector
    stages must spread across cores.  No-op when the scan already has
    enough splits (the 100 TB case) and on streaming frames (no static
    partitioning to probe — micro-batch parallelism is the source's)."""
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    cosine_threshold: float = 0.95,
    n_planes: int = 16,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate embedding pairs: bucket on hyperplane signatures,
    verify exact cosine within buckets.

    Recall is OR-amplified across ``n_tables`` independent hash tables
    (a pair is a candidate if it collides in ANY table): with per-plane
    collision probability p = 1 - θ/π, candidate probability is
    1 - (1 - p^n_planes)^n_tables.  The band explode carries only
    (id, vec, norm) × n_tables; candidates are deduped on (id_a, id_b)
    BEFORE the cosine verify so multi-table collisions are scored once.
    One shuffle on the (table, bucket) key, one on the pair dedup.  The
    bucket frame (both self-join sides) is cached for the call only:
    the result is an eager ``localCheckpoint`` (``dedup._checkpointed``)."""
    # norms+buckets in one Arrow-native numpy pass per batch
    # (mapInArrow: zero-copy list-buffer read, vectors pass through —
    # see _norm_buckets_arrow_fn)
    from pyspark.sql import types as T

    from .dedup import _bucket_pairs, _checkpointed, _id_out

    oc = _id_out(df, id_col)
    src = _ensure_parallelism(df).select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    out_schema = T.StructType([
        src.schema["__id"],
        src.schema["__v"],
        T.StructField("__norm", T.DoubleType()),
        T.StructField("__buckets", T.ArrayType(T.IntegerType())),
    ])
    b = (
        src.mapInArrow(
            _norm_buckets_arrow_fn(dim, n_planes, n_tables, seed),
            out_schema)
        .select("__id", "__v", "__norm",
                F.posexplode("__buckets").alias("__t", "__bucket"))
    )
    return _checkpointed(
        lambda: _bucket_pairs(b, ["__t", "__bucket"])
        .dropDuplicates(["id_a", "id_b"])
        .withColumn(
            "cosine",
            F.expr(_sum_fold("v_a", "v_b",
                             "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)", "a")
                   + " / (norm_a * norm_b)"),
        )
        .filter(F.col("cosine") >= cosine_threshold)
        .select(oc("id_a"), oc("id_b"), "cosine"),
        b)


# --------------------------------------------------------------------- ivf

class KMeansModel:
    """Distributed-k-means result: centroids + cluster sizes + the
    inertia trace.  ``assign`` scores new data with the same broadcast
    argmin expression the fit used (no shuffle)."""

    def __init__(self, centroids: list[list[float]], sizes: list[int],
                 inertia_history: list[float]):
        self.centroids = centroids
        self.sizes = sizes
        self.inertia_history = inertia_history

    def assign(self, df: DataFrame, vec_col: str,
               out_col: str = "cluster_id") -> DataFrame:
        return df.withColumn(
            out_col, assign_clusters_col(vec_col, self.centroids))


def _sample_lloyd(frame: DataFrame, dim: int, m: int, k: int,
                  sample_fraction: float, seed: int, iters: int,
                  what: str) -> list[list[list[float]]]:
    """Driver-side Lloyd on ONE bounded sample (≤100k rows) of the
    one-column vector frame ``frame``: ``m`` codebooks of ``k``
    centroids, codebook ``s`` over the ``s``-th ``dim/m``-wide slice,
    seeded by ``random.Random(seed + s)`` (k-means and IVF are m=1).
    NULL vectors are dropped after the collect; they still take part in
    the Bernoulli draw, so the sample depends only on the frame passed.

    Vectorized: one (chunk, k) distance block at a time via the
    ||p||² − 2p·c + ||c||² expansion — seconds at 100k×768 where a
    Python triple loop took minutes (VERDICT r1).  Conversion goes
    through np.fromiter over a flat iterator (0.18 s at 100k×64)
    instead of np.asarray over nested lists (7.4 s: the nested path pays
    a per-element sequence-protocol walk PLUS a ~50 MB fresh allocation
    whose first-touch page faults dominate on slow-fault hosts), and
    the distance matrix is computed in 16k-row chunks so the
    temporaries stay small and get reused by the allocator rather than
    re-faulted (measured r10: 18.9 s -> 2.4 s for the 100k×64 fit;
    per-row arithmetic is unchanged, so centroids are bit-identical to
    the unchunked form)."""
    import random
    from itertools import chain

    import numpy as np

    rows = (
        frame.sample(fraction=min(sample_fraction, 1.0), seed=seed)
        .limit(100_000)
        .collect()
    )
    vecs = [r[0] for r in rows if r[0] is not None]
    n = len(vecs)
    if n < k:
        raise ValueError(
            f"{what}: not enough sample points ({n}) for {k} centroids")
    _check_sample_dims(vecs, dim, what)
    P = np.fromiter(chain.from_iterable(vecs), dtype=np.float64,
                    count=n * dim).reshape(n, dim)
    dsub = dim // m
    _CH = 16384
    books = []
    for s in range(m):
        Ps = P[:, s * dsub:(s + 1) * dsub]
        # random.sample draws the same index sequence for any
        # equal-length population, so sampling indices keeps the
        # r1-era seeding exactly
        C = Ps[random.Random(seed + s).sample(range(n), k)].copy()
        p_sq = np.empty(n, dtype=np.float64)
        for c0 in range(0, n, _CH):
            blk = Ps[c0:c0 + _CH]
            p_sq[c0:c0 + _CH] = (blk * blk).sum(axis=1)
        best = np.empty(n, dtype=np.intp)
        for _ in range(iters):
            c_sq = (C * C).sum(axis=1)[None, :]
            for c0 in range(0, n, _CH):
                blk = Ps[c0:c0 + _CH]
                d2 = p_sq[c0:c0 + _CH, None] - 2.0 * (blk @ C.T) + c_sq
                best[c0:c0 + _CH] = d2.argmin(axis=1)
            for ci in range(k):
                members = Ps[best == ci]
                if len(members):
                    C[ci] = members.mean(axis=0)
        books.append([list(map(float, c)) for c in C])
    return books


def _lloyd(df: DataFrame, vec_col: str, books: list[list[list[float]]],
           iters: int):
    """FULL-data distributed Lloyd over all ``m`` codebooks at once
    (k-means is m=1).  Each iteration is ONE aggregation job: the
    nearest-centroid kernel gives every row its ``m`` (code, distance)
    pairs, an inline explodes them to ``(subspace, code, d, subvector)``
    entries, and one pass grouped by ``(subspace, code)`` computes the
    count, the per-dimension DECIMAL(38,9)-exact coordinate sums and
    the DECIMAL sum of ``d`` — ``m·k·(dsub+2)`` numbers to the driver.
    Map-side partial aggregation collapses the explode to ``m·k``
    groups per partition, so the shuffle is codebook-sized, never
    corpus-sized (at FAISS-realistic m=96 one job per iteration instead
    of 96).  Exact decimal accumulation + first-min tie-breaking make
    the result bit-identical under any partitioning.

    Empty clusters keep their previous centroid.  Returns ``(books,
    sizes, inertia_history)``: sizes (m × k) are the populations at the
    LAST assignment (the returned centroids are the means of exactly
    those members — standard Lloyd bookkeeping), and each inertia entry
    is the sum of squared distances at that iteration's assignment."""
    from itertools import chain

    m, k, dsub = len(books), len(books[0]), len(books[0][0])
    # the explode and the aggregation are SQL text built once: every
    # PySpark Column call is JVM round trips (~11 for one ``alias``), and
    # on small inputs those cost more per iteration than the job itself
    entries = "inline(array(" + ", ".join(
        f"struct({s} AS s, __n.c[{s}] AS c, __n.d[{s}] AS d, "
        f"CAST(slice(__v, {s * dsub + 1}, {dsub}) AS ARRAY<DOUBLE>) AS x)"
        for s in range(m)) + "))"
    aggs = [F.expr(a) for a in [
        "COUNT(*) AS n",
        "CAST(SUM(CAST(d AS DECIMAL(38,9))) AS DOUBLE) AS inert",
        *[f"CAST(SUM(CAST(element_at(x, {j + 1}) AS DECIMAL(38,9))) AS "
          f"DOUBLE) AS s{j}" for j in range(dsub)],
    ]]
    proj = df.select(F.col(vec_col).alias("__v")).filter(
        F.col("__v").isNotNull()).persist()
    try:
        sizes = [[0] * k for _ in range(m)]
        history: list[float] = []
        for _ in range(iters):
            rows = (
                proj.withColumn("__n", _nearest_col("__v", books))
                .selectExpr(entries)
                .groupBy("s", "c")
                .agg(*aggs)
                .collect()
            )
            sizes = [[0] * k for _ in range(m)]
            inerts = [[0.0] * k for _ in range(m)]
            books = [list(b) for b in books]
            for r in rows:
                s, c = r["s"], r["c"]
                sizes[s][c], inerts[s][c] = r["n"], r["inert"]
                books[s][c] = [r[f"s{j}"] / r["n"] for j in range(dsub)]
            # index-ordered fold so the trace is partition-invariant
            history.append(sum(chain.from_iterable(inerts)))
        return books, sizes, history
    finally:
        proj.unpersist()


def kmeans_fit(
    df: DataFrame,
    vec_col: str,
    dim: int,
    k: int,
    iters: int = 10,
    init_centroids: list[list[float]] | None = None,
    sample_fraction: float = 0.1,
    seed: int = 42,
) -> KMeansModel:
    """FULL-data distributed Lloyd iterations — the scale path past
    ``ivf_build``'s sample-only fit (sample-fit is right when every
    cluster is well-represented in a 100k sample; refining over ALL
    rows is right when clusters are thin, skewed, or k is large
    relative to the sample: pass ``init_centroids=ivf_build(...)[1]``).

    ``_lloyd`` with one codebook: each iteration is ONE aggregation job
    whose k·(dim+2) numbers (count, DECIMAL(38,9) coordinate sums,
    DECIMAL inertia) go to the driver — O(k·dim) driver state, like
    train_logreg's O(dim) — and the fitted centroids are bit-identical
    under any partitioning, so a re-fit on a resized cluster reproduces
    the model.

    ``init_centroids`` pins initialization (tests/oracles); otherwise
    init is 5 iterations of the driver sample Lloyd ``ivf_build`` uses,
    on the same sample.  Empty clusters keep their previous centroid.
    ``sizes`` are the cluster populations at the LAST assignment
    (``assign`` with the returned centroids can move boundary points
    once more).
    """
    if k <= 0 or iters <= 0 or dim <= 0:
        raise ValueError("k, dim and iters must be positive")
    if init_centroids is not None:
        if len(init_centroids) != k or any(len(c) != dim
                                           for c in init_centroids):
            raise ValueError(f"init_centroids must be {k} x {dim}")
        C = [[float(v) for v in c] for c in init_centroids]
    else:
        (C,) = _sample_lloyd(df.select(vec_col), dim, 1, k,
                             sample_fraction, seed, 5, "kmeans_fit")
    (C,), (sizes,), history = _lloyd(df, vec_col, [C], iters)
    return KMeansModel(C, sizes, history)


def ivf_build(
    df: DataFrame,
    vec_col: str,
    dim: int,
    nlist: int = 16,
    sample_fraction: float = 0.1,
    iters: int = 5,
    seed: int = 42,
) -> tuple[DataFrame, list[list[float]]]:
    """Fit IVF centroids on a sample (driver-side Lloyd iterations over at
    most ~100k sampled vectors — ``_sample_lloyd``), then assign every
    row a cluster id via a broadcast argmin expression.  Returns
    (df+cluster_id, centroids).

    At 100 TB: sample-fit cost is constant; assignment is one scan; write
    the result partitioned by cluster_id so probes prune partitions.
    When nlist is large relative to the sample or the embedding
    distribution is skewed, refine the centroids over ALL rows with
    ``kmeans_fit(..., init_centroids=centroids)``."""
    (centroids,) = _sample_lloyd(df.select(vec_col), dim, 1, nlist,
                                 sample_fraction, seed, iters, "ivf_build")
    assigned = df.withColumn(
        "cluster_id", assign_clusters_col(vec_col, centroids)
    )
    return assigned, centroids


# One size gate for the nearest-centroid kernel ``_nearest_col`` and so
# for all five sites built on it: assign_clusters_col, _min_sq_dist_col,
# pq_encode_expr and the kmeans_fit / pq_fit Lloyd loop (``_lloyd``).
# The gate counts total centroid floats (k·dim, or m·k·dsub for PQ).
# At or below the gate the distances unroll into one codegen
# expression (left-associated Σ(p−c)², first-min argmin — exactly the
# arithmetic the DuckDB oracles replay); above it one numpy GEMM per
# subspace and Arrow batch.  The gate is measured, not guessed:
# tools/centroid_kernel_sweep.py (fresh centroids every pass, as in a
# Lloyd loop; one assign + group-by + collect job; SPARK_GRAFT_CPUS=4
# on a 4-core VM), min of 3, ms, Arrow / unrolled:
#   floats    500 rows      2k rows      200k rows
#        8   673 /  466    496 /  343    490 /   411
#       16   451 /  322    456 /  312    465 /   463
#       32   353 /  359    435 /  358    468 /   505
#       64   434 /  519    396 /  472    529 /   901
#      128   369 /  916    357 /  795    535 /  1621
#      512   335 / 3781    352 / 3714    486 /  5884
#     1024   354 / 7478    318 / 8906    558 / 13169
# A min-of-5 re-run of the boundary: 32 floats 368/270, 337/273,
# 417/416; 48 floats 382/327, 351/410, 355/517.  So the unrolled form
# wins or ties up to 32 floats and loses from 48 up at 2k rows and
# more; its cost is mostly the per-pass compile of a tree that grows
# with the floats, which is why small inputs do not rescue it.
CENTROID_EXPR_MAX_FLOATS = 32


def _sq_dists_sql(vec_col: str, centroids: list[list[float]],
                  offset: int = 0) -> str:
    """SQL ``array(d_0, …, d_{k-1})``: squared distance from the
    ``len(c)`` elements of ``vec_col`` starting at ``offset`` to each
    centroid, unrolled as Σ_j (x_j − c_j)² with the terms added left
    to right.  ``vec_col`` may be any SQL array expression."""
    dists = []
    for c in centroids:
        terms = " + ".join(
            f"(CAST(element_at({vec_col}, {offset + j + 1}) AS DOUBLE) - "
            f"{float(v)!r}) * "
            f"(CAST(element_at({vec_col}, {offset + j + 1}) AS DOUBLE) - "
            f"{float(v)!r})"
            for j, v in enumerate(c)
        )
        dists.append(f"({terms})")
    return "array(" + ", ".join(dists) + ")"


def _first_min_sql(arr: str) -> str:
    """0-based position of the first minimum of a SQL array."""
    return f"CAST(array_position({arr}, array_min({arr})) - 1 AS INT)"


def _nearest_col(vec_col: str, books: list[list[list[float]]]) -> Column:
    """The one nearest-centroid kernel: ``struct<c: array<int>,
    d: array<double>>`` holding, for each of the ``m`` codebooks in
    ``books`` (``k`` centroids over the ``s``-th ``dsub``-wide slice of
    the vector; k-means and IVF pass one codebook), the nearest
    centroid (first min) and the squared distance to it, both taken
    from ONE distance array per subspace.

    At or below ``CENTROID_EXPR_MAX_FLOATS`` (over ``m·k·dsub``) each
    array is the unrolled ``_sq_dists_sql`` expression.  Above it one
    numpy GEMM per subspace and Arrow batch against the closure-captured
    codebooks (broadcast with the task): ``g = ||c||² − 2p·c``,
    ``c = argmin g`` (the row-constant ||p||² cannot change the order,
    and ``knn_join``'s probe kernel ranks clusters by the same ``g``),
    ``d = max(||p||² + g[c], 0)``.  Both forms give a NULL vector ``m``
    NULL codes and distances, and both reject a non-NULL vector
    whose length is not ``m·dsub`` — the Arrow form in
    ``_arrow_list_matrix``, the expression form by a ``raise_error``
    added (as 0) to the first subspace's code and distance, so the
    check rides the same projection and stays outside any conditional
    branch: Spark does not share a subexpression that only one branch
    evaluates, and a ``CASE WHEN`` wrapper around the struct measured
    5.7 s against 0.58 s for this form (and 0.54 s with no check) on
    one assign + aggregate job at 32 floats, 200k rows, 4 cores."""
    m, k, dsub = len(books), len(books[0]), len(books[0][0])
    dim = m * dsub
    if m * k * dsub <= CENTROID_EXPR_MAX_FLOATS:
        arrs = [_sq_dists_sql(vec_col, b, s * dsub)
                for s, b in enumerate(books)]
        chk = _length_guard(vec_col, dim, "_nearest_col")
        cs = [_first_min_sql(a) for a in arrs]
        ds = [f"array_min({a})" for a in arrs]
        cs[0], ds[0] = f"{cs[0]} + {chk}", f"{ds[0]} + {chk}"
        return F.expr(f"named_struct('c', array({', '.join(cs)}), "
                      f"'d', array({', '.join(ds)}))")

    import numpy as np
    import pyarrow as pa
    from pyspark.sql.functions import arrow_udf

    B = [np.asarray(b, dtype=np.float64) for b in books]
    B_sq = [(C * C).sum(axis=1) for C in B]

    def _nearest(vs: "pa.Array") -> "pa.Array":
        # a NULL vector gets m NULL codes and distances, as in the
        # expression form, where every element_at of NULL is NULL
        valid = vs.is_valid().to_numpy(zero_copy_only=False)
        V = _arrow_list_matrix(vs.drop_null() if vs.null_count else vs,
                               "_nearest_col", dim)
        n, nv = len(vs), len(V)
        c = np.zeros((n, m), dtype=np.int32)
        d = np.zeros((n, m), dtype=np.float64)
        for s in range(m):
            Vs = V[:, s * dsub:(s + 1) * dsub]
            g = B_sq[s] - 2.0 * (Vs @ B[s].T)
            cs = g.argmin(axis=1)
            c[valid, s] = cs
            d[valid, s] = (Vs * Vs).sum(axis=1) + g[np.arange(nv), cs]
        offsets = pa.array(np.arange(0, (n + 1) * m, m, dtype=np.int32))
        null = np.repeat(~valid, m)
        return pa.StructArray.from_arrays(
            [pa.ListArray.from_arrays(
                offsets, pa.array(c.reshape(-1), mask=null)),
             pa.ListArray.from_arrays(
                 offsets,
                 pa.array(np.maximum(d, 0.0).reshape(-1), mask=null))],
            names=["c", "d"])

    # module-wide `from __future__ import annotations` stringifies the
    # type hints, which udf inference can't resolve — attach the objects
    _nearest.__annotations__ = {"vs": pa.Array, "return": pa.Array}
    return arrow_udf(_nearest, "struct<c:array<int>,d:array<double>>")(
        F.expr(vec_col))


def _min_sq_dist_col(vec_col: str, centroids: list[list[float]]):
    """Min squared distance to any centroid (the k-means inertia term),
    gated like ``assign_clusters_col`` — see ``_nearest_col``."""
    return _nearest_col(vec_col, [centroids]).getField("d").getItem(0)


def assign_clusters_col(vec_col: str, centroids: list[list[float]]):
    """Argmin-distance cluster assignment as a Column — a broadcast
    scan, never a shuffle.  Up to ``CENTROID_EXPR_MAX_FLOATS`` centroid
    floats (nlist·dim) it is one unrolled codegen expression with no
    Python in the path; past it one numpy GEMM per Arrow batch, since
    the unrolled tree grows with nlist·dim and at IVF-realistic shapes
    (nlist ≥ 256, dim 768) the GEMM is the only plan that survives.
    See ``_nearest_col`` for the arithmetic of each form."""
    return _nearest_col(vec_col, [centroids]).getField("c").getItem(0)


def ivf_write_index(
    assigned: DataFrame,
    centroids: list[list[float]],
    path: str,
) -> None:
    """Persist the IVF index: data parquet PARTITIONED BY cluster_id
    (probing nprobe clusters then prunes (nlist-nprobe)/nlist of the
    scan at the file level — check PartitionFilters in the plan) plus a
    centroids sidecar."""
    import json

    assigned.write.mode("overwrite").partitionBy("cluster_id").parquet(path)
    with open(f"{path}/_ivf_centroids.json", "w") as f:
        json.dump(centroids, f)


def ivf_read_index(spark, path: str) -> tuple[DataFrame, list[list[float]]]:
    import json

    with open(f"{path}/_ivf_centroids.json") as f:
        centroids = json.load(f)
    return spark.read.parquet(path), centroids


def pq_write_index(
    encoded: DataFrame,
    model: "PQModel",
    path: str,
    cluster_col: str | None = None,
) -> None:
    """Persist a PQ (or IVF-PQ) index: the code table as parquet —
    partitioned by ``cluster_col`` when given, so ``ivf_pq_search``
    probes prune at the file level — plus a codebook sidecar.  The
    sidecar is tiny (``m·k·dsub`` floats) and the code table is 16-64×
    smaller than the float vectors it replaces: at 100 TB this is the
    difference between an index living in hot storage and not."""
    import json

    w = encoded.write.mode("overwrite")
    if cluster_col:
        w = w.partitionBy(cluster_col)
    w.parquet(path)
    with open(f"{path}/_pq_codebooks.json", "w") as f:
        json.dump({"dim": model.dim, "codebooks": model.codebooks}, f)


def pq_read_index(spark, path: str) -> tuple[DataFrame, "PQModel"]:
    import json

    with open(f"{path}/_pq_codebooks.json") as f:
        d = json.load(f)
    return spark.read.parquet(path), PQModel(d["codebooks"], d["dim"])


def ivf_search(
    assigned: DataFrame,
    centroids: list[list[float]],
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """Probe the nprobe closest clusters only, then exact cosine top-k
    within them (``cosine_topk`` over the probed cells).  With
    cluster-partitioned storage this prunes ~(1 - nprobe/nlist) of the
    scan."""
    _check_query(query, len(centroids[0]), "ivf_search")
    probe = _probe_cells(query, centroids, nprobe, "l2")
    return cosine_topk(assigned.filter(F.col("cluster_id").isin(probe)),
                       vec_col, id_col, query, k)


def _centroid_scores(query: list[float], centroids: list[list[float]],
                     metric: str) -> list[float]:
    """Driver-side score of ``query`` against each centroid: squared L2
    ``Σ (q−c)·(q−c)`` for ``metric='l2'``, inner product for ``'ip'``,
    each summed left to right — the multiply, NOT ``** 2``, whose libm
    pow() is not guaranteed bit-equal to the multiply a SQL replay
    does.  Serves the IVF cell probe and the PQ lookup tables, and is
    the one place ``metric`` is checked."""
    if metric not in ("l2", "ip"):
        raise ValueError(f"metric must be 'l2' or 'ip', got {metric!r}")
    if metric == "l2":
        return [sum((float(a) - float(b)) * (float(a) - float(b))
                    for a, b in zip(query, c)) for c in centroids]
    return [sum(float(a) * float(b) for a, b in zip(query, c))
            for c in centroids]


def _probe_cells(query: list[float], centroids: list[list[float]],
                 nprobe: int, metric: str) -> list[int]:
    """The ``nprobe`` cells nearest ``query``: ascending squared L2 or
    descending inner product, ties to the lower cell index.  Centroids
    narrower than the query score its leading elements only (a coarse
    quantizer fitted on a prefix slice of the vectors)."""
    sc = _centroid_scores(query, centroids, metric)
    sign = 1.0 if metric == "l2" else -1.0
    return sorted(range(len(centroids)), key=lambda ci: sign * sc[ci])[:nprobe]


def ivf_pq_search(
    encoded: DataFrame,
    centroids: list[list[float]],
    model: "PQModel",
    id_col: str,
    codes_col: str,
    query: list[float],
    k: int = 10,
    nprobe: int = 4,
    cluster_col: str = "cluster_id",
    metric: str = "l2",
    residuals_of: list[list[float]] | None = None,
) -> DataFrame:
    """The full FAISS IVF-PQ architecture on Spark storage: the coarse
    quantizer (``ivf_build`` cluster ids) prunes to the ``nprobe``
    nearest cells — partition pruning when the table is written
    partitioned by ``cluster_col`` — and the scan inside the surviving
    cells runs on PQ codes via ``pq_adc_topk``'s lookup tables.

    Combined effect at 100 TB: read ``nprobe/nlist`` of the partitions
    × ``1/16th`` the bytes per row (m=8 codes vs 64 float64s) — two
    multiplicative IO reductions before a single row is scored, and
    the scoring itself is TakeOrderedAndProject with zero shuffles.

    ``encoded`` needs ``(id_col, codes_col, cluster_col)`` — the
    output of ``ivf_build`` + ``pq_encode_expr``, typically persisted
    once, partitioned by cluster.

    ``metric='ip'`` scores inner product (MIPS): cells probe by
    descending ``<query, centroid>`` and the ADC inside ranks
    descending, mirroring FAISS ``METRIC_INNER_PRODUCT``.

    ``residuals_of`` (FAISS IVFPQ's defining trick): when the codes
    were trained/encoded on RESIDUALS ``v - centroid[cluster]``
    (see ``ivf_residual_expr``), pass the same coarse centroids here
    and each probed cell ADC-scans with its OWN lookup table built
    from the shifted query ``q - centroid[cell]`` — exact because
    ``||v - q||² = ||r_v - (q - c)||²`` within a cell.

    MEASURED honestly (SCALE.md round 7): on 64-dim fixtures the
    recall ceiling is PROBE recall — the fraction of true neighbors
    whose cell gets probed (0.725 at nprobe=16 on the isotropic
    fixture, 0.985 clustered) — and ``pq_refine_topk``'s exact rerank
    already reaches that ceiling exactly, so residual codes are
    recall-NEUTRAL there (isotropic coarse centroids sit near the
    origin; the residual ≈ the raw vector) while costing ~nprobe×
    per query (one LUT branch per probed cell vs one shared-LUT
    scan).  Reach for residuals only when no rerank stage is possible
    AND the coarse quantizer captures real structure (strongly
    clustered data, nlist ≫ intrinsic cluster count); to lift recall
    itself, raise ``nprobe`` — the only lever that moves the ceiling
    (0.725 → 0.915 at nprobe=32 on the isotropic fixture).
    The plan stays 0-shuffle: one filtered ADC scan per probed cell
    (``nprobe`` branch unions of TakeOrdered heads) merged by one
    global top-k.  L2 only — for MIPS the per-cell constant
    ``<q, c>`` would have to be folded in pre-rounding; unsupported
    until needed."""
    _check_query(query, model.dim, "ivf_pq_search")
    probe = _probe_cells(query, centroids, nprobe, metric)
    if residuals_of is not None and metric != "l2":
        raise ValueError(
            "residuals_of requires metric='l2' (IP needs the per-cell "
            "<query, centroid> constant folded into the ADC score)")
    if residuals_of is None:
        return pq_adc_topk(
            encoded.filter(F.col(cluster_col).isin(probe)),
            id_col, codes_col, query, model, k=k, metric=metric,
        )
    # residual path: per-cell query shift -> per-cell LUTs; each branch
    # is its own TakeOrderedAndProject head, the union is nprobe*k rows
    parts = []
    for ci in probe:
        qr = [float(a) - float(b) for a, b in zip(query, residuals_of[ci])]
        parts.append(
            pq_adc_topk(
                encoded.filter(F.col(cluster_col) == ci),
                id_col, codes_col, qr, model, k=k,
            )
        )
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionAll(p)
    return _topk(merged, "adc", id_col, k, False)


def ivf_residual_expr(
    vec_col: str,
    cluster_col: str,
    centroids: list[list[float]],
) -> Column:
    """The residual ``v - centroid[cluster]`` as an ``array<double>``
    column — what FAISS IVFPQ feeds its product quantizer instead of
    the raw vector (`faiss/IndexIVFPQ` ``by_residual``, the default).
    Compose: ``ivf_build`` assigns cells, this produces the residual,
    ``pq_fit``/``pq_encode_expr`` run UNCHANGED on it, and
    ``ivf_pq_search(..., residuals_of=centroids)`` searches with
    per-cell shifted-query LUTs.

    Pure codegen (one literal ``array<array<double>>`` lookup + a
    ``zip_with`` subtract): encoding a 100 TB corpus stays a
    zero-shuffle narrow map."""
    cells = "array(" + ", ".join(_vec_literal(c, "D") for c in centroids) + ")"
    return F.expr(
        f"zip_with(transform({vec_col}, x -> CAST(x AS DOUBLE)), "
        f"element_at({cells}, CAST({cluster_col} AS INT) + 1), "
        f"(x, c) -> x - c)"
    )


# ---------------------------------------------------------------- knn join

def _probe_clusters_arrow_fn(centroids: list[list[float]], nprobe: int):
    """Arrow-native probe assignment for ``knn_join`` IVF mode — one
    mapInArrow pass (guide §4.2, same template as
    ``_norm_buckets_arrow_fn``): the query vector
    column is read as ONE contiguous buffer view instead of boxing a
    fresh ndarray per row, the (__qid, __qv, __qn) columns pass
    through as the same Arrow arrays, and the function emits ONE row
    per input row (the ``nprobe`` probe ids as a list), leaving the
    explode to the JVM.  The probes are the float64 ``||c||² − 2v·c``
    stable argsort, equal to numpy on the same inputs (pinned by
    ``test_probe_clusters_arrow_parity``).

    Input batches must carry exactly (__qid, __qv, __qn); output rows
    are (__qid, __qv, __qn, __probes[min(nprobe, nlist)])."""
    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)
    c_sq = (C * C).sum(axis=1)
    nsel = min(nprobe, len(centroids))
    dim = C.shape[1]

    def _fn(batches):
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            vec = batch.column(1)
            # exact null/ragged diagnostics (ADVICE r10), zero-copy read
            m = _arrow_list_matrix(vec, "_probe_clusters_arrow_fn", dim)
            # ||v||^2 is constant per row — argmin order unaffected
            d2 = c_sq - 2.0 * (m @ C.T)
            idx = np.argsort(d2, axis=1, kind="stable")[:, :nsel].astype(
                np.int32)
            probes = pa.ListArray.from_arrays(
                pa.array(np.arange(0, (n + 1) * nsel, nsel,
                                   dtype=np.int32)),
                pa.array(idx.reshape(-1)),
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), vec, batch.column(2), probes],
                names=["__qid", "__qv", "__qn", "__probes"],
            )

    return _fn


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    q_id: str = "vec_id",
    q_vec: str = "embedding",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    centroids: list[list[float]] | None = None,
    nprobe: int = 4,
    n_blocks: int | None = None,
    round_digits: int = 4,
    exclude_self: bool = False,
    max_cluster_size: int | None = None,
) -> DataFrame:
    """Batched k-nearest-neighbour join: for EVERY query row, the top-k
    corpus rows by cosine — the retrieval-eval / hard-negative-mining /
    RAG-indexing primitive (``cosine_topk`` answers one query; this
    answers |Q| of them in one distributed pass).

    Two partitioning modes:

    - **IVF mode** (``centroids`` given): corpus rows key on their argmin
      cluster; each query replicates to its ``nprobe`` nearest clusters.
      Cost ≈ ``nprobe/nlist`` of the exact join; recall < 1 unless
      ``nprobe == nlist`` (then exact, the q73 oracle setting).
    - **Exact block mode** (no centroids): corpus rows key on
      ``hash(id) % n_blocks``; each query replicates to every block.
      ``n_blocks=None`` (default) adapts to the corpus: ~8k rows per
      block, capped at 64 — pass an explicit count for a fixed layout.
      Exact at |Q|·|C| GEMM flops, spread across ``n_blocks`` cogroups —
      the brute-force baseline, viable when one side is small.

    Each cogroup computes ONE numpy GEMM (Arrow-batched, no per-row
    Python) and emits a per-query local top-k; the global top-k is a
    window over the unioned candidates — correct because every
    (query, neighbour) pair appears in exactly one group, and a global
    winner is necessarily a local winner in its own group.

    Cross-engine determinism: cosines are rounded to ``round_digits``
    and ranked by ``(cosine DESC, neighbour id)`` — a total order any
    engine reproduces (near-ties collapse to equal rounded values and
    fall back to the id).  Output: ``query_id, neighbor_id, cosine,
    rank``.

    ``max_cluster_size`` (IVF mode) row-caps the corpus side of a
    cluster before the cogroup — the same skew guard as the LSH bucket
    caps: one boilerplate mega-cluster would otherwise concentrate a
    |Q_c|×|C_c| GEMM on one task.  Capped members drop out of the
    candidate pool (recall loss, bounded memory); block mode needs no
    cap because its keys are hash-uniform by construction."""
    import numpy as np

    from .dedup import _cap_buckets

    qn = queries.select(
        F.col(q_id).alias("__qid"),
        F.col(q_vec).alias("__qv"),
        norm_expr(q_vec).alias("__qn"),
    )
    cn = corpus.select(
        F.col(c_id).alias("__cid"),
        F.col(c_vec).alias("__cv"),
        norm_expr(c_vec).alias("__cn"),
    )
    if centroids is not None:
        from pyspark.sql import types as T

        probe_schema = T.StructType(list(qn.schema.fields) + [
            T.StructField("__probes", T.ArrayType(T.IntegerType()))])
        qk = (
            qn.mapInArrow(
                _probe_clusters_arrow_fn(centroids, nprobe), probe_schema)
            .select("__qid", "__qv", "__qn",
                    F.explode("__probes").alias("__key"))
        )
        ck = cn.withColumn(
            "__key", assign_clusters_col("__cv", centroids).cast("int")
        )
        ck = _cap_buckets(ck, ["__key"], "__cid", max_cluster_size)
    else:
        spark = corpus.sparkSession
        if n_blocks is None:
            # adaptive: target ~8k corpus rows per block — enough work to
            # amortize each cogroup's Arrow+Python overhead, small enough
            # to bound per-task GEMM memory; one cheap count() job.  A
            # small corpus collapses to few blocks (a 2k-row corpus in 32
            # fixed blocks pays 32 task setups for trivial GEMMs).
            cnt = corpus.count()
            n_blocks = max(1, min(64, -(-cnt // 8192)))
        blocks = spark.range(n_blocks).select(
            F.col("id").cast("int").alias("__key")
        )
        qk = qn.crossJoin(F.broadcast(blocks))
        ck = cn.withColumn(
            "__key", F.pmod(F.xxhash64("__cid"), F.lit(n_blocks)).cast("int")
        )

    local_k = k + 1 if exclude_self else k

    def _topk(qt, ct):
        # Arrow-native cogroup (guide §4.2): each side's vector column
        # is read as ONE contiguous buffer view (ListArray.flatten →
        # reshape) instead of the per-row ndarray boxing the pandas
        # path paid before the GEMM.  float64 GEMM / round / lexsort
        # arithmetic is unchanged → output bit-identical (pinned by
        # test_knn_cogroup_arrow_parity).
        import pyarrow as pa

        def _mat(tbl, col):
            # exact null/ragged diagnostics (ADVICE r10): the old
            # flat.size % n heuristic passed when ragged rows happened
            # to compensate (one null + one double-length vector)
            return _arrow_list_matrix(tbl.column(col), col, None)

        if qt.num_rows == 0 or ct.num_rows == 0:
            return pa.table(
                {"query_id": pa.array([], pa.int64()),
                 "neighbor_id": pa.array([], pa.int64()),
                 "cosine": pa.array([], pa.float64())})
        Q = _mat(qt, "__qv")
        Cv = _mat(ct, "__cv")
        sims = (Q @ Cv.T) / np.outer(
            qt.column("__qn").to_numpy(zero_copy_only=False),
            ct.column("__cn").to_numpy(zero_copy_only=False),
        )
        sims = np.round(sims, round_digits)
        qids = qt.column("__qid").to_numpy(zero_copy_only=False)
        cids = ct.column("__cid").to_numpy(zero_copy_only=False)
        cut = min(local_k, sims.shape[1])
        out_q, out_c, out_s = [], [], []
        for i in range(sims.shape[0]):
            # total order (cosine desc, neighbour id asc); lexsort keys
            # are least-significant first
            order = np.lexsort((cids, -sims[i]))[:cut]
            out_q.append(np.full(len(order), qids[i]))
            out_c.append(cids[order])
            out_s.append(sims[i][order])
        return pa.table(
            {"query_id": pa.array(
                np.concatenate(out_q).astype(np.int64, copy=False)),
             "neighbor_id": pa.array(
                np.concatenate(out_c).astype(np.int64, copy=False)),
             "cosine": pa.array(
                np.concatenate(out_s).astype(np.float64, copy=False))})

    cand = (
        qk.groupBy("__key")
        .cogroup(ck.groupBy("__key"))
        .applyInArrow(_topk, "query_id long, neighbor_id long, cosine double")
    )
    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col("neighbor_id"))
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


# ---------------------------------------------------------------- semdedup

def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    cosine_threshold: float = 0.95,
    n_clusters: int = 16,
    iters: int = 3,
    sample_fraction: float = 1.0,
    seed: int = 42,
    max_cluster_size: int | None = None,
    return_removed: bool = False,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): k-means
    cluster the embeddings, find intra-cluster cosine near-duplicate
    pairs, and drop every member of a near-dup connected component except
    its minimum id (the paper keeps a representative per group too, but
    chooses by centroid distance; min-id is used here so the output is
    deterministic and cross-engine checkable).

    Candidate generation is cluster-bounded — no all-pairs: the pair join
    keys on ``cluster_id``, so per-cluster cost is O((N/k)²) and total
    cost N²/k, tunable by ``n_clusters``.  ``max_cluster_size`` (optional)
    row_number-caps pathological clusters exactly like the LSH bucket
    caps in ``dedup.py`` — capped members keep their rows (dedup recall
    loss, never correctness loss on survivors).  Exact copies always
    share a cluster (identical vectors → identical argmin centroid), so
    recall for TRUE duplicates is 1.0 regardless of the k-means fit;
    near-but-not-identical pairs can straddle a cluster boundary — that
    is SemDeDup's documented approximation, not a bug here.

    Shuffle budget: assignment is a broadcast argmin scan (no shuffle);
    one shuffle keys the pair join on cluster_id; connected components
    collects the edges to a driver union-find (one job) and only above
    ``dedup.DRIVER_MAX_EDGES`` edges runs star-contraction rounds.
    Embedding vectors cross the wire only into the cluster-keyed join —
    at 100 TB, write the assigned table partitioned by cluster_id first
    and this becomes a co-located self-join.

    Returns the surviving rows of ``df`` (or the removed ids with their
    component root when ``return_removed``)."""
    from .dedup import _cap_buckets, _integral_id, connected_components

    if not _integral_id(df, id_col):
        # the intra-cluster pair stage and connected components both key
        # on longs; a silent coercion would NULL string ids — fail loudly
        # with the standard escapes instead
        raise ValueError(
            f"semantic_dedup requires an integral id column (got "
            f"{df.schema[id_col].dataType.simpleString()}); map ids to "
            "longs first (F.xxhash64(id) or a row_number catalog) and "
            "join the survivors back."
        )

    _, cents = ivf_build(
        df, vec_col, dim, nlist=n_clusters,
        sample_fraction=sample_fraction, iters=iters, seed=seed,
    )
    # assign over the parallelism-ensured frame, NOT ivf_build's
    # `assigned` (r11): the sf0.1 embeddings scan has 2 splits, so the
    # whole norm+argmin map ran on 2 of 32 cores (profiled: 0.97 s of
    # the 2.26 s executor CPU in one 2-task stage).  The fit above
    # still samples the ORIGINAL df — repartitioning before the sample
    # would reorder it and change the seeded sample centroids, so a
    # fixed seed would no longer reproduce the clustering (no oracle
    # replays them: learned centroids are not SQL-replayable, and
    # q65's oracle is its construction); repartitioning only the
    # assignment input keeps every per-row value identical.  No-op at
    # scale where the scan has splits.
    assigned = _ensure_parallelism(df).withColumn(
        "cluster_id", assign_clusters_col(vec_col, cents)
    )
    b = assigned.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        norm_expr(vec_col).alias("__norm"),
        "cluster_id",
    )
    b = _cap_buckets(b, ["cluster_id"], "__id", max_cluster_size)
    # Intra-cluster pairs via ONE blocked GEMM per cluster (applyInArrow):
    # each cluster's members arrive as one Arrow group, the pairwise
    # cosine matrix is a single numpy matmul, and only the (id_a, id_b)
    # index pairs above threshold are emitted.  This replaces a self-join
    # whose per-pair interpreted zip_with cosine was the bottleneck
    # (measured ~6.5 s -> sub-second at sf0.1); the Arrow form (guide
    # §4.2) additionally reads the vector column as one contiguous
    # buffer view instead of boxing a fresh ndarray per row — same
    # float64 GEMM, bit-identical pairs (test_semdedup_pairs_arrow_parity).
    # A whole cluster must fit in one executor's memory — that is
    # SemDeDup's own operating point (the paper runs ~50k clusters over
    # 100M+ points precisely so each cluster is small); size n_clusters
    # for ~N/k of a few hundred thousand rows max, and cap stragglers
    # with max_cluster_size.
    def _pairs(tbl):
        import numpy as np
        import pyarrow as pa

        ids = tbl.column("__id").to_numpy(zero_copy_only=False)
        # exact null/ragged diagnostics (ADVICE r10), zero-copy read
        V = _arrow_list_matrix(tbl.column("__v"), "__v", None)
        norms = tbl.column("__norm").to_numpy(zero_copy_only=False)
        sims = (V @ V.T) / np.outer(norms, norms)
        ia, ib = np.nonzero(np.triu(sims >= cosine_threshold, k=1))
        a, b_ = ids[ia], ids[ib]
        lo = np.minimum(a, b_)
        hi = np.maximum(a, b_)
        return pa.table(
            {"id_a": pa.array(lo.astype(np.int64, copy=False)),
             "id_b": pa.array(hi.astype(np.int64, copy=False))})

    edges = (
        b.groupBy("cluster_id")
        .applyInArrow(_pairs, "id_a long, id_b long")
    )
    comps = connected_components(edges)
    removed = comps.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias("__removed_id"),
        F.col("cluster_id").alias("kept_id"),
    )
    if return_removed:
        return removed.select(
            F.col("__removed_id").cast("bigint").alias("removed_id"),
            F.col("kept_id").cast("bigint").alias("kept_id"),
        )
    return df.join(
        removed.select("__removed_id"),
        df[id_col] == F.col("__removed_id"),
        "left_anti",
    )


# ------------------------------------------------- scalar quantization (SQ8)

def sq_fit(df: DataFrame, vec_col: str, dim: int) -> tuple[list[float], list[float]]:
    """Fit a per-dimension 8-bit scalar quantizer (FAISS ``SQ8``): returns
    ``(mins, spans)`` where ``spans[j] = max_j - min_j`` over the corpus.

    One posexplode shuffle carrying ``(pos, val)`` pairs — fixed-width,
    independent of row width — then a ``dim``-row collect.  (A wide
    2·dim-column single aggregation was measured 5x SLOWER at dim 64:
    the 128-buffer generated aggregate loses to the explode's tight
    loop — don't "optimize" this back.)  At 100 TB the fit can run on a
    sample instead (min/max are order statistics; a small margin on the
    span covers sampling error), but unlike k-means the exact fit is
    itself a single cheap aggregation, so full-corpus fits stay viable
    far longer than PQ/IVF training would."""
    rows = (
        df.select(F.posexplode(F.col(vec_col)).alias("pos", "val"))
        .groupBy("pos")
        .agg(
            F.min(F.col("val").cast("double")).alias("mn"),
            F.max(F.col("val").cast("double")).alias("mx"),
        )
        .collect()
    )
    mins = [0.0] * dim
    spans = [0.0] * dim
    for r in rows:
        mins[r["pos"]] = float(r["mn"])
        spans[r["pos"]] = float(r["mx"]) - float(r["mn"])
    return mins, spans


def sq_encode_expr(vec_col: str, mins: list[float], spans: list[float]) -> Column:
    """8-bit codes as ``array<int>``:
    ``code_j = floor(clip((v_j - min_j) / span_j * 255, 0, 255) + 0.5)``
    (zero-span dimensions encode to 0).  Pure higher-order-function
    expression — JVM-side, zero shuffle, composes into the scan stage.

    Memory story: float32 embeddings shrink 4x (768-dim: 3 KB -> 768 B),
    float64 8x — at 100 TB of vectors this is the difference between an
    index that fits hot storage and one that doesn't; candidate scans
    become IO-bound on a quarter of the bytes."""
    diff = (
        f"zip_with({vec_col}, {_vec_literal(mins)}, "
        f"(x, m) -> CAST(x AS DOUBLE) - m)"
    )
    return F.expr(
        f"transform(zip_with({diff}, {_vec_literal(spans)}, "
        f"(d, s) -> CASE WHEN s > 0 THEN "
        f"FLOOR(LEAST(GREATEST(d / s * 255.0, 0.0), 255.0) + 0.5) "
        f"ELSE 0.0 END), c -> CAST(c AS INT))"
    )


def sq_decode_expr(code_col: str, mins: list[float], spans: list[float]) -> Column:
    """Dequantized vector (``array<double>``):
    ``dv_j = min_j + code_j * (span_j / 255)``.  Reconstruction error is
    bounded per dimension by ``span_j / 510`` (half a quantization step)."""
    return F.expr(_sq_decode_sql(code_col, mins, spans))


def _sq_decode_sql(code_col: str, mins: list[float],
                   spans: list[float]) -> str:
    return (f"zip_with(zip_with({code_col}, {_vec_literal(spans)}, "
            f"(c, s) -> CAST(c AS DOUBLE) * (s / 255.0)), "
            f"{_vec_literal(mins)}, (t, m) -> m + t)")


def sq_topk(
    df: DataFrame,
    id_col: str,
    code_col: str,
    mins: list[float],
    spans: list[float],
    query: list[float],
    k: int = 10,
    round_digits: int = 9,
) -> DataFrame:
    """Top-k by cosine between the *dequantized* codes and a query vector
    — asymmetric distance computation (query stays full precision, corpus
    is 8-bit).  Single scan over the code column + TakeOrderedAndProject:
    no shuffle, no Python.  Cosines round to ``round_digits`` with an id
    tiebreak so the ranking is a cross-engine total order."""
    _check_query(query, len(mins), "sq_topk")
    # decode, dot and norm fuse into ONE zip_with + aggregate pass over
    # the raw codes: HOFs are CodegenFallback (no codegen subexpression
    # elimination), so the naive decode-then-two-aggregates shape
    # re-evaluates the whole decode chain per reference.  Per element:
    # dv = m + c·(s/255) with s/255 prefolded as a driver-side literal
    # (IEEE division — bit-identical to dividing in-engine), then the
    # (dv·q, dv²) pair folds left-to-right, the same operand order as
    # the separate dot_expr/norm_expr — so the cosine values stay
    # bit-identical and the cross-engine hash-parity contract survives.
    trip = ", ".join(
        f"named_struct('m', {float(m)!r}D, 's', {float(s) / 255.0!r}D, "
        f"'q', {float(qj)!r}D)"
        for m, s, qj in zip(mins, spans, query)
    )
    fused = (
        f"aggregate(zip_with({code_col}, array({trip}), "
        f"(c, t) -> struct("
        f"(t.m + CAST(c AS DOUBLE) * t.s) * t.q AS d, "
        f"(t.m + CAST(c AS DOUBLE) * t.s) * (t.m + CAST(c AS DOUBLE) * t.s)"
        f" AS n)), "
        f"struct(CAST(0 AS DOUBLE) AS d, CAST(0 AS DOUBLE) AS n), "
        f"(acc, v) -> struct(acc.d + v.d AS d, acc.n + v.n AS n))"
    )
    scored = df.withColumn("__dn", F.expr(fused)).select(
        F.col(id_col),
        F.round(
            F.expr("__dn.d") / (F.expr("sqrt(__dn.n)") * F.lit(_qnorm(query))),
            round_digits,
        ).alias("cosine"),
    )
    return _topk(scored, "cosine", id_col, k, True)


def sq_adc_topk(
    df: DataFrame,
    id_col: str,
    code_col: str,
    norm_col: str,
    mins: list[float],
    spans: list[float],
    query: list[float],
    k: int = 10,
) -> DataFrame:
    """The scale-path form of ``sq_topk``: the dot product against
    dequantized codes refactors algebraically to

        dot = sum_j q_j*min_j  +  sum_j (q_j * span_j / 255) * code_j

    i.e. a constant plus a dot product of *raw int codes* against a
    query-transformed weight vector — one fused multiply-add chain over
    tinyint-range ints, never materializing the decoded array.  Requires
    a precomputed dequantized-norm column (standard practice: store the
    norm once at encode time; it is one double per row).

    Floating-point caveat: the refactored sum associates differently
    from ``sq_topk``'s decode-then-dot, so results agree to ~1e-9, not
    bit-exactly — use ``sq_topk`` when cross-engine hash parity matters
    and this form when scanning billions of codes.  Why both stay: the
    SCALE.md section on the two public "second ways" (200k × 64 codes
    on a 4-core VM, warm: 2.2–2.4 s against 3.7–3.9 s for ``sq_topk``,
    same top-10 ids)."""
    _check_query(query, len(mins), "sq_adc_topk")
    c0 = sum(float(q) * float(m) for q, m in zip(query, mins))
    w = [float(q) * (float(s) / 255.0) for q, s in zip(query, spans)]
    dot = dot_expr(code_col, w) + F.lit(c0)
    return _topk(
        df.select(F.col(id_col),
                  (dot / (F.col(norm_col) * F.lit(_qnorm(query))))
                  .alias("cosine")),
        "cosine", id_col, k, True)


def sq_norm_expr(code_col: str, mins: list[float], spans: list[float]) -> Column:
    """Norm of the dequantized vector, for storing alongside the codes at
    encode time (feeds ``sq_adc_topk``)."""
    return F.expr(_norm_sql(_sq_decode_sql(code_col, mins, spans)))


# ---------------------------------------------------------------------
# Random projection (Johnson-Lindenstrauss) dimensionality reduction
# ---------------------------------------------------------------------


def rp_signs(in_dim: int, out_dim: int, seed: int = 0) -> list[list[float]]:
    """The deterministic ±1 projection matrix (``in_dim × out_dim``),
    derived from md5 so ANY engine can replay it: ``sign(i, j) = +1``
    iff the first hex digit of ``md5("{seed}:{i}:{j}")`` is even
    (1-based i, j).  md5 is uniform per nibble, so entries are iid
    Rademacher — the Achlioptas construction, which satisfies the JL
    lemma with the same guarantees as Gaussian matrices."""
    import hashlib

    even = set("02468ace")
    return [
        [
            1.0
            if hashlib.md5(f"{seed}:{i}:{j}".encode()).hexdigest()[0] in even
            else -1.0
            for j in range(1, out_dim + 1)
        ]
        for i in range(1, in_dim + 1)
    ]


def rp_project(
    df: DataFrame,
    vec_col: str,
    in_dim: int,
    out_dim: int,
    seed: int = 0,
    out_col: str = "rp",
) -> DataFrame:
    """Johnson-Lindenstrauss random projection: ``in_dim``-dim vectors
    → ``out_dim``-dim sketches via a deterministic ±1 matrix, scaled by
    ``1/sqrt(out_dim)`` so pairwise distances are preserved in
    expectation (JL: distortion ≤ ε needs out_dim ≈ 8·ln(n)/ε²,
    *independent of in_dim* — 768-dim embeddings sketch to 64 dims for
    million-row corpora).

    Scale shape: the signs fold into the plan as fixed +/- terms, so
    the projection is a zero-shuffle whole-stage-codegen map — no HOF
    lambda (those run interpreted), no Python, no matrix broadcast; it
    rides the scan.  Use it in front of ``knn_join``/
    ``embedding_near_dup_pairs`` to cut GEMM flops ``in_dim/out_dim``×,
    or as the coarse pass of a two-stage retrieval (sketch-rank, then
    exact-rerank the survivors).

    Determinism contract: ``rp_signs`` is pure md5 arithmetic, so an
    auditing engine (DuckDB, Trino) can rebuild the identical matrix
    from ``(seed, in_dim, out_dim)`` alone — no artifact to ship."""
    if in_dim <= 0 or out_dim <= 0:
        raise ValueError("in_dim and out_dim must be positive")
    import math

    signs = rp_signs(in_dim, out_dim, seed)
    inv = 1.0 / math.sqrt(out_dim)
    outs = []
    for j in range(out_dim):
        terms = " ".join(
            f"{'+' if signs[i][j] > 0 else '-'} "
            f"CAST(element_at({vec_col}, {i + 1}) AS DOUBLE)"
            for i in range(in_dim)
        )
        outs.append(F.expr(f"(CAST(0 AS DOUBLE) {terms}) * {inv!r}"))
    return df.withColumn(out_col, F.array(*outs))


# ---------------------------------------------------------------------
# PCA / whitening (embedding-space preprocessing)
# ---------------------------------------------------------------------


class PCAModel:
    """Principal components of an embedding corpus: ``k × dim`` axes
    (rows orthonormal, ordered by descending eigenvalue), the corpus
    mean, and the per-axis eigenvalues of the population covariance.
    ``whiten`` scales each projected coordinate by ``1/sqrt(λ+eps)`` so
    the output has identity covariance — what the SemDeDup/retrieval
    literature preconditions cosine spaces with (whitening decorrelates
    the dominant directions that otherwise drown near-dup contrast)."""

    def __init__(self, mean: list[float], components: list[list[float]],
                 eigenvalues: list[float], whiten: bool = False,
                 eps: float = 1e-9, total_variance: float | None = None):
        self.mean = [float(x) for x in mean]
        self.components = [[float(x) for x in c] for c in components]
        self.eigenvalues = [float(x) for x in eigenvalues]
        self.whiten = bool(whiten)
        self.eps = float(eps)
        self.dim = len(self.mean)
        self.k = len(self.components)
        # trace of the covariance (sum over ALL dim eigenvalues), so the
        # ratio is sklearn-comparable even when k < dim
        self.total_variance = float(
            total_variance if total_variance is not None
            else sum(self.eigenvalues))

    @property
    def explained_variance_ratio(self) -> list[float]:
        tot = self.total_variance or 1.0
        return [v / tot for v in self.eigenvalues]


def pca_fit(
    df: DataFrame,
    vec_col: str,
    dim: int,
    k: int,
    whiten: bool = False,
    sample_cap: int = 100_000,
    sample_fraction: float | None = None,
    seed: int = 42,
    eps: float = 1e-9,
    full_data: bool = False,
) -> PCAModel:
    """Fit PCA (optionally whitening) on an embedding column.

    Default path (``full_data=False``): ONE sample collect of at most
    ``sample_cap`` rows, then driver-side numpy eigendecomposition —
    covariance estimation saturates around 1e5 rows regardless of
    corpus size (the same argument as ``pq_fit``'s codebook sampling),
    so at 100 TB the fit cost is constant and the only corpus-sized
    pass is the PROJECTION, which is a zero-shuffle codegen map
    (``pca_project_expr``).

    Sampling (ADVICE r7, revised per ADVICE r8 #4):
    ``sample_fraction=None`` (default) draws a UNIFORM
    exactly-min(n, cap) sample in ONE corpus pass — bottom-k by a
    seeded ``rand()`` key (TakeOrderedAndProject: each task keeps a
    cap-sized heap, the driver merges; no count job, no shuffle, no
    second scan).  The r7 fix ran a full ``count()`` first to derive
    a fraction — statistically the same sample, but TWO corpus scans
    at exactly the 100 TB scale the fit targets.  Pass an explicit
    fraction to use ``.sample(fraction)`` + cap instead (``pq_fit``'s
    contract — cheaper per row than the heap when the fraction is
    tiny and a count is already on hand), or exactly ``1.0`` to
    deliberately collect the unsampled head (only sound when the
    input is known unordered).

    ``full_data=True`` computes EXACT full-corpus moments instead: one
    ``mapInPandas`` pass emits per-partition ``(n, Σx, ΣxxT)`` partials
    (float64 GEMM per Arrow batch, d+d² doubles per partition — never
    row-sized) and the driver reduces them.  Caveat stated honestly:
    partials add in partition order, so last-ulp float differences are
    possible across different partitionings (unlike ``kmeans_fit``'s
    decimal sums); eigenvector SIGNS are pinned either way (largest-
    magnitude coordinate made positive), and cross-engine exactness
    comes from pinning the MODEL, not the fit — the oracle pattern
    q155 uses.

    Eigenvalues are of the population covariance (divide by n)."""
    import numpy as np

    if k <= 0 or k > dim:
        raise ValueError(f"k must be in [1, dim]; got k={k} dim={dim}")
    proj = df.select(F.col(vec_col).alias("__v")).filter(
        F.col("__v").isNotNull())
    if full_data:
        import pandas as pd

        def _partials(it):
            n, s, g = 0, np.zeros(dim), np.zeros((dim, dim))
            for pdf in it:
                if not len(pdf):
                    continue
                V = np.asarray(pdf["__v"].tolist(), dtype=np.float64)
                n += V.shape[0]
                s += V.sum(axis=0)
                g += V.T @ V
            yield pd.DataFrame({
                "n": [n], "s": [s.tolist()],
                "g": [g.reshape(-1).tolist()],
            })

        parts = proj.mapInPandas(
            _partials, "n long, s array<double>, g array<double>"
        ).collect()
        n = sum(r["n"] for r in parts)
        if n < 2:
            raise ValueError("pca_fit needs at least 2 vectors")
        s = np.sum([np.asarray(r["s"]) for r in parts], axis=0)
        g = np.sum([np.asarray(r["g"]).reshape(dim, dim) for r in parts],
                   axis=0)
        mean = s / n
        cov = g / n - np.outer(mean, mean)
    else:
        if sample_fraction is None:
            # one-pass uniform bottom-k: rand key + global top-cap
            rows = (proj.withColumn("__r", F.rand(seed))
                        .orderBy("__r").limit(sample_cap)
                        .select("__v").collect())
        else:
            samp = proj
            if sample_fraction < 1.0:
                samp = samp.sample(fraction=sample_fraction, seed=seed)
            rows = samp.limit(sample_cap).collect()
        if len(rows) < 2:
            raise ValueError("pca_fit needs at least 2 vectors")
        # fromiter over a flat iterator, not asarray over nested lists:
        # bit-identical values, ~40x cheaper conversion at the 100k cap
        # (same allocation finding as ivf_build, r10)
        from itertools import chain

        _check_sample_dims([r[0] for r in rows], dim, "pca_fit")
        X = np.fromiter(chain.from_iterable(r[0] for r in rows),
                        dtype=np.float64,
                        count=len(rows) * dim).reshape(len(rows), dim)
        mean = X.mean(axis=0)
        Xc = X - mean
        cov = (Xc.T @ Xc) / X.shape[0]
    vals, vecs = np.linalg.eigh(cov)          # ascending
    order = np.argsort(vals)[::-1][:k]
    comps, eig = [], []
    for idx in order:
        v = vecs[:, idx]
        # deterministic sign: the largest-|coordinate| entry is positive
        j = int(np.argmax(np.abs(v)))
        if v[j] < 0:
            v = -v
        comps.append([float(x) for x in v])
        eig.append(float(max(vals[idx], 0.0)))
    return PCAModel([float(x) for x in mean], comps, eig,
                    whiten=whiten, eps=eps,
                    total_variance=float(np.trace(cov)))


def pca_project_expr(vec_col: str, model: PCAModel) -> Column:
    """The projection ``(x - mean) @ componentsᵀ`` (times
    ``1/sqrt(λ+eps)`` per axis when the model whitens) as ONE unrolled
    whole-stage-codegen expression — a left-associated ``+`` chain per
    output coordinate, so an external SQL replay (DuckDB, the q155
    oracle) reproduces every coordinate bit-for-bit from the model
    literals.  Zero shuffles, no UDF, no broadcast: the matrix folds
    into the plan like ``rp_project``'s sign matrix, and projecting a
    100 TB corpus rides the parquet scan."""
    import math

    outs = []
    for ci, comp in enumerate(model.components):
        const = sum(m * c for m, c in zip(model.mean, comp))
        terms = " + ".join(
            f"{float(c)!r} * CAST(element_at({vec_col}, {i + 1}) AS DOUBLE)"
            for i, c in enumerate(comp)
        )
        e = f"({terms}) - {float(const)!r}"
        if model.whiten:
            w = 1.0 / math.sqrt(model.eigenvalues[ci] + model.eps)
            e = f"({e}) * {float(w)!r}"
        outs.append(F.expr(e))
    return F.array(*outs)


def pca_project(
    df: DataFrame, vec_col: str, model: PCAModel, out_col: str = "pca"
) -> DataFrame:
    """Attach the (optionally whitened) PCA projection — see
    ``pca_project_expr`` for the scale shape."""
    return df.withColumn(out_col, pca_project_expr(vec_col, model))


def pca_save(model: PCAModel, path: str) -> None:
    """Persist a PCAModel as one JSON file (driver-sized: k·dim floats)."""
    import json

    with open(path, "w") as f:
        json.dump({
            "format": "elusion_pca_v1", "mean": model.mean,
            "components": model.components,
            "eigenvalues": model.eigenvalues, "whiten": model.whiten,
            "eps": model.eps, "total_variance": model.total_variance,
        }, f)


def pca_load(path: str) -> PCAModel:
    import json

    with open(path) as f:
        d = json.load(f)
    if d.get("format") != "elusion_pca_v1":
        raise ValueError(f"not a PCA model file: {path}")
    return PCAModel(d["mean"], d["components"], d["eigenvalues"],
                    whiten=d["whiten"], eps=d["eps"],
                    total_variance=d["total_variance"])


# ---------------------------------------------------------------------
# Product quantization (IVF-PQ's compression half)
# ---------------------------------------------------------------------


class PQModel:
    """Product-quantizer codebooks: ``m`` subspaces × ``k`` centroids ×
    ``dim/m`` dims.  Compression: a float32 vector stores as ``m``
    small ints — 768-dim float32 @ m=96, k=256 is 3 KB → 96 B (32×),
    the difference between an ANN index that fits executor memory at
    100 TB and one that thrashes."""

    def __init__(self, codebooks: list[list[list[float]]], dim: int):
        self.codebooks = codebooks
        self.dim = dim
        self.m = len(codebooks)
        self.k = len(codebooks[0]) if codebooks else 0
        self.dsub = dim // self.m if self.m else 0


def pq_fit(
    df: DataFrame,
    vec_col: str,
    dim: int,
    m: int,
    k: int,
    iters: int = 5,
    init_centroids: list[list[list[float]]] | None = None,
    sample_fraction: float = 0.1,
    seed: int = 42,
) -> PQModel:
    """Train PQ codebooks: Lloyd over all ``m`` subspaces SIMULTANEOUSLY
    — ``_lloyd`` with ``m`` codebooks, so each iteration is ONE
    aggregation job for the whole codebook set, not ``m`` separate fits
    (at FAISS-realistic m=96 the per-subspace approach is 96× the jobs
    — hundreds of cluster round-trips — for identical math).  Same
    bit-identical-under-any-partitioning contract as ``kmeans_fit``.

    ``init_centroids`` (``m × k × dsub``) pins initialization for
    tests/oracles; otherwise ONE sample collect (≤100k non-NULL rows)
    seeds all ``m`` subspaces with 5 iterations of the driver sample
    Lloyd (``_sample_lloyd``, subspace ``s`` seeded by ``seed + s``).
    At 100 TB, fit on a sample (codebook training needs ~100k rows
    regardless of corpus size — FAISS practice) and ``pq_encode`` the
    full corpus; the encode is the only corpus-sized pass and it is a
    zero-shuffle map."""
    if m <= 0:
        raise ValueError(f"m must be positive, got m={m}")
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    if k <= 0 or iters < 0:
        raise ValueError("k must be positive and iters non-negative")
    dsub = dim // m
    if init_centroids is not None:
        if len(init_centroids) != m or any(
            len(b) != k or any(len(c) != dsub for c in b)
            for b in init_centroids
        ):
            raise ValueError(f"init_centroids must be {m} x {k} x {dsub}")
        books = [[[float(v) for v in c] for c in b] for b in init_centroids]
    else:
        books = _sample_lloyd(
            df.select(F.col(vec_col).alias("__v")).filter(
                F.col("__v").isNotNull()),
            dim, m, k, sample_fraction, seed, 5, "pq_fit")
    books, _, _ = _lloyd(df, vec_col, books, iters)
    return PQModel(books, dim)


def pq_encode_expr(vec_col: str, model: PQModel) -> Column:
    """PQ codes as ``array<int>`` (``m`` entries): per subspace, the
    first-min argmin over its ``k`` centroids — the ``c`` field of the
    nearest-centroid kernel ``_nearest_col``, whose form follows
    ``CENTROID_EXPR_MAX_FLOATS`` over the ``m·k·dsub`` codebook floats:
    at or below it each subspace is an unrolled ``_sq_dists_sql``
    argmin (pure codegen, fuses into the scan); above it one numpy GEMM
    per subspace and Arrow batch.  Either way encoding a 100 TB corpus
    is a narrow map: no shuffle, and the numpy path is Arrow-batched,
    never row-at-a-time."""
    return _nearest_col(vec_col, model.codebooks).getField("c")


def pq_adc_topk(
    df: DataFrame,
    id_col: str,
    codes_col: str,
    query: list[float],
    model: PQModel,
    k: int = 10,
    round_digits: int = 7,
    metric: str = "l2",
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: the query builds an
    ``m × k`` lookup table of subspace scores driver-side, the per-row
    score is ``m`` literal-array lookups summed — integer indexing +
    ``m`` adds per row, never touching a float vector — and the global
    top-k is TakeOrderedAndProject (per-partition heads + merge, no
    sort, no shuffle).  THE billion-vector scan shape: a 1000-executor
    cluster ADC-scans compressed codes at memory bandwidth.

    ``metric='l2'`` (default) returns ``(id_col, adc)`` ascending by
    squared distance; ``metric='ip'`` scores inner product descending
    (MIPS — retrieval over unnormalized embedding scores; on
    L2-normalized vectors both rank identically to cosine).  Rounded
    with an id tiebreak for a cross-engine total order."""
    _check_query(query, model.dim, "pq_adc_topk")
    d = model.dsub
    luts = [_centroid_scores(query[s * d:(s + 1) * d], book, metric)
            for s, book in enumerate(model.codebooks)]
    if model.m * model.k > 1024:
        # Large codebooks: the literal-LUT expression tree carries
        # m*k literal doubles and evaluates interpreted — measured
        # SLOWER than a brute-force dot at m=32 k=256 (1.16 s vs
        # 0.27 s per query over 200k rows).  Same cutover as
        # pq_encode_expr: one numpy gather per Arrow batch.
        score = _pq_adc_vectorized(codes_col, luts)
    else:
        score = None
        for s, lut in enumerate(luts):
            # D-suffixed literals: bare numerics in SQL text parse as
            # DECIMAL, which would silently switch the score arithmetic
            term = F.expr(f"element_at({_vec_literal(lut, 'D')}, "
                          f"element_at({codes_col}, {s + 1}) + 1)")
            score = term if score is None else score + term
    return _topk(
        df.select(F.col(id_col), F.round(score, round_digits).alias("adc")),
        "adc", id_col, k, metric == "ip")


def pq_refine_topk(
    encoded: DataFrame,
    raw: DataFrame,
    id_col: str,
    codes_col: str,
    vec_col: str,
    query: list[float],
    model: "PQModel",
    k: int = 10,
    candidates: int = 100,
    metric: str = "l2",
    centroids: list[list[float]] | None = None,
    nprobe: int = 4,
    cluster_col: str = "cluster_id",
    round_digits: int = 7,
    residuals_of: list[list[float]] | None = None,
) -> DataFrame:
    """Two-stage compressed ANN (the FAISS ``IndexRefineFlat`` /
    DiskANN pattern): ADC-scan the PQ codes for a ``candidates``-sized
    shortlist, then re-rank JUST those ids with exact math over the raw
    vectors and return the top ``k``.

    Why this exists: pure ADC ranking pays the full quantization error
    at the final cut — on structureless (isotropic random) vectors at
    aggressive code budgets, recall@10 sits at 0.2-0.35 (measured,
    SCALE.md round 6).  Reranking restores almost all of it for the
    price of reading ``candidates`` raw vectors per query: the scan
    stays compressed (8-21x fewer bytes), and the exact stage touches
    ~100 rows instead of the corpus — recall is then bounded only by
    whether the true top-k made the shortlist.  Measured at 200k x
    64-dim: m=16 k=64 goes 0.225 -> 0.685 (C=100) -> 0.875 (C=400) on
    the adversarial random fixture and 0.34 -> 0.935 -> 0.99 on the
    clustered one; m=32 k=256 + C=100 reaches recall 1.0 on both.

    ``centroids`` switches the shortlist stage to ``ivf_pq_search``
    (coarse-cell probe + ADC inside; ``metric`` is plumbed through, so
    MIPS probes by descending ``<q, c>`` and ranks descending),
    composing both IO reductions with the recall restore.
    ``residuals_of`` additionally tells the shortlist stage the codes
    encode residuals (see ``ivf_residual_expr``) — the highest-recall
    compressed configuration.  The rerank is a BROADCAST semi-join on
    the candidate ids — at 100 TB the raw table is id-keyed storage
    and only ``candidates`` rows cross the wire; no shuffle of the
    corpus.

    Returns ``(id_col, score)`` — ``score`` is exact (squared L2
    ascending, or inner product descending for ``metric='ip'``),
    rounded with an id tiebreak for a cross-engine total order."""
    if centroids is not None:
        shortlist = ivf_pq_search(encoded, centroids, model, id_col,
                                  codes_col, query, k=candidates,
                                  nprobe=nprobe, cluster_col=cluster_col,
                                  metric=metric,
                                  residuals_of=residuals_of)
    else:
        shortlist = pq_adc_topk(encoded, id_col, codes_col, query, model,
                                k=candidates, metric=metric)
    ids = shortlist.select(id_col)
    if metric == "l2":
        # sequential-fold Σ(x−q)² — NOT ||v||²−2⟨v,q⟩+||q||²: the
        # elementwise left-associated chain is what an external SQL
        # replay writes as an unrolled `+` chain, so scores are
        # bit-identical cross-engine (the q152 oracle relies on this);
        # it only ever evaluates on the `candidates` surviving rows
        score = F.expr(_sum_fold(
            vec_col, query,
            "(CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)"))
    else:
        score = dot_expr(vec_col, query)
    return _topk(
        raw.join(F.broadcast(ids), id_col, "left_semi")
        .select(F.col(id_col), F.round(score, round_digits).alias("score")),
        "score", id_col, k, metric == "ip")


def _pq_adc_vectorized(codes_col: str, luts: list[list[float]]) -> Column:
    """ADC score as one numpy gather+sum per Arrow batch — the large-
    codebook path of ``pq_adc_topk``.  Accumulates LEFT-ASSOCIATED in
    float64, subspace by subspace, exactly like the expression path's
    chained double adds, so both strategies are bit-identical and the
    cutover can never flip an oracle-checked ranking.

    arrow_udf since r11 (guide §4.2): the code column (array<int>, m
    entries per row) is read through ``_arrow_list_matrix`` — one
    contiguous buffer view, no per-row boxing, the same null and width
    checks — since the ADC scan is THE billion-row shape.  Scores equal the
    left-associated float64 sum of the coded LUT entries
    (``test_pq_adc_arrow_parity``).

    Codes are range-checked like widths: numpy fancy indexing would
    wrap a negative code to the LUT's tail and silently mis-score the
    row (the expression path raises on it), and codes can come from
    outside the program (``pq_read_index`` reads parquet)."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.functions import arrow_udf

    L = [np.asarray(t, dtype=np.float64) for t in luts]
    m = len(luts)
    ks = np.array([len(t) for t in L])

    def _score(cs: "pa.Array") -> "pa.Array":
        # float64 holds every int32 code exactly, so the cast is exact
        C = _arrow_list_matrix(cs, "_pq_adc_vectorized", m).astype(np.int64)
        bad = np.flatnonzero(((C < 0) | (C >= ks)).any(axis=1))
        if bad.size:
            b = int(bad[0])
            raise ValueError(
                f"_pq_adc_vectorized: row {b} has codes "
                f"{C[b].tolist()} outside [0, k) for LUT sizes "
                f"{ks.tolist()}")
        out = L[0][C[:, 0]]
        for s in range(1, m):
            out = out + L[s][C[:, s]]
        return pa.array(out, type=pa.float64())

    _score.__annotations__ = {"cs": pa.Array, "return": pa.Array}
    return arrow_udf(_score, "double")(F.col(codes_col))


def recall_at_k(
    approx: DataFrame,
    exact: DataFrame,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
) -> DataFrame:
    """ANN evaluation: per-query recall of an approximate neighbor table
    against the exact one (both in ``knn_join`` output shape: one row
    per (query, neighbor)).  Joins on (query, neighbor) — one semi-join
    + one aggregate, no collect; at 100 TB of eval pairs the cost is
    two key-shuffles of id pairs.

    The denominator is each query's exact-neighbor count — pass both
    tables already truncated to their top-k (``knn_join(k=...)`` output
    is) and this IS recall@k.  Returns ``(query_col, recall)``; mean
    recall is one ``F.avg`` away (see ``mean_recall``)."""
    e = exact.select(
        F.col(query_col).alias("__q"), F.col(neighbor_col).alias("__n")
    )
    a = approx.select(
        F.col(query_col).alias("__q"), F.col(neighbor_col).alias("__n")
    )
    hits = e.join(a, ["__q", "__n"], "left_semi").groupBy("__q").agg(
        F.count("*").alias("__hit")
    )
    denom = e.groupBy("__q").agg(F.count("*").alias("__tot"))
    return (
        denom.join(hits, "__q", "left")
        .select(
            F.col("__q").alias(query_col),
            (F.coalesce(F.col("__hit"), F.lit(0)) /
             F.col("__tot").cast("double")).alias("recall"),
        )
    )


def mean_recall(per_query: DataFrame) -> float:
    """Collapse a ``recall_at_k`` frame to its mean (driver sees one
    number)."""
    return float(per_query.agg(F.avg("recall")).first()[0])


def rrf_fuse(
    rankings: list[tuple[DataFrame, str, str]],
    rrf_k: int = 60,
    round_digits: int = 9,
    query_col: str | None = None,
    max_list_rows: int | None = 100_000,
) -> DataFrame:
    """Reciprocal-rank fusion of N retrieval rankings (the standard
    hybrid-search combiner: BM25 + dense ANN, or multiple ANN probes):
    ``score(d) = sum_r 1 / (rrf_k + rank_r(d))`` over the rankings that
    contain ``d``.

    Each entry is ``(df, id_col, score_col)``; ranks derive from
    ``(score DESC, id)`` — a total order, so fusion is deterministic.
    Contributions round to ``round_digits`` and fold as DECIMAL: the
    sum is order-independent and cross-engine reproducible.

    ``query_col`` is the batched form — real hybrid search fuses |Q|
    queries at once (the shape ``knn_join`` / ``bm25_score_batched``
    emit).  Every input df must carry the column; rank windows
    partition by it, fusion groups by ``(query, id)``, and the output
    keeps the query column.  Without it, rankings are single lists and
    the rank window is GLOBAL (single partition) — fine for one
    query's top-k lists, a scale bug for anything larger, which is
    exactly why the batched form exists.  To keep that degradation from
    being SILENT, the single-query path probes each ranking with a
    ``limit(max_list_rows + 1)`` count (early-stopping, never a full
    scan) and raises if any list exceeds ``max_list_rows`` — pass
    ``query_col`` for batched data, or ``max_list_rows=None`` to accept
    the global window knowingly.

    Scale: each ranking pays one window shuffle to rank (skip by
    passing pre-ranked lists of k rows/query); the fusion itself is a
    union + one (query, id)-keyed aggregation over int rows."""
    from pyspark.sql import Window

    if query_col is None and max_list_rows is not None:
        for i, (df, _id, _sc) in enumerate(rankings):
            if df.limit(max_list_rows + 1).count() > max_list_rows:
                raise ValueError(
                    f"rrf_fuse ranking #{i} exceeds max_list_rows="
                    f"{max_list_rows} with no query_col: the rank "
                    "window would be a single global partition. Pass "
                    "query_col for batched multi-query fusion, or "
                    "max_list_rows=None to accept the global window."
                )
    parts = []
    for df, id_col, score_col in rankings:
        order = [F.col(score_col).desc(), F.col(id_col)]
        if query_col is not None:
            w = Window.partitionBy(F.col(query_col)).orderBy(*order)
            parts.append(
                df.select(
                    F.col(query_col).alias("__q"),
                    F.col(id_col).alias("__id"),
                    F.row_number().over(w).alias("__rank"),
                )
            )
        else:
            w = Window.orderBy(*order)
            parts.append(
                df.select(
                    F.col(id_col).alias("__id"),
                    F.row_number().over(w).alias("__rank"),
                )
            )
    allr = parts[0]
    for p in parts[1:]:
        allr = allr.unionByName(p)
    contrib = (
        f"CAST(ROUND(1.0 / ({rrf_k} + CAST(__rank AS DOUBLE)), "
        f"{round_digits}) AS DECIMAL(28,{round_digits}))"
    )
    keys = ["__q", "__id"] if query_col is not None else ["__id"]
    fused = (
        allr.withColumn("__c", F.expr(contrib))
        .groupBy(*keys)
        .agg(
            F.expr("CAST(SUM(__c) AS DOUBLE)").alias("rrf_score"),
            F.count("*").cast("bigint").alias("n_lists"),
        )
    )
    if query_col is not None:
        return fused.select(
            F.col("__q").alias(query_col),
            F.col("__id").alias("id"),
            "rrf_score",
            "n_lists",
        )
    return fused.select(F.col("__id").alias("id"), "rrf_score", "n_lists")


def retrieval_metrics(
    results: DataFrame,
    qrels: DataFrame,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    score_col: str | None = "score",
    rank_col: str | None = None,
    rel_col: str | None = None,
    k: int = 10,
) -> DataFrame:
    """Per-query retrieval quality — precision@k, recall@k, MRR@k,
    nDCG@k — for a ranked result set against a relevance set: the
    evaluate side of the knn_join / bm25 / rrf_fuse retrieval stack
    (hard-negative mining and embedding-model regression checks both
    start here).

    ``results``: (query, doc, score) or (query, doc, rank).  When
    ``rank_col`` is None, ranks derive from ``score_col`` descending
    with the doc id as the deterministic tiebreak.  ``qrels``: (query,
    doc[, graded rel]); ``rel_col=None`` means binary relevance.
    Queries present in ``qrels`` but retrieving nothing score 0;
    queries absent from ``qrels`` are dropped (trec_eval convention).

    Every shuffle is keyed by the query (rank windows, joins, aggs) —
    no global window, cost scales with |results| + |qrels| at any
    query count.  nDCG uses the standard (2^rel − 1)/log2(rank+1)
    gain; IDCG ranks each query's relevance set by rel desc (doc-id
    tiebreak) so graded and binary inputs share one path."""
    from pyspark.sql import Window

    if k < 1:
        raise ValueError("k must be >= 1")
    q, d = query_col, doc_col
    rel = (F.col(rel_col).cast("double") if rel_col is not None
           else F.lit(1.0))
    qr = qrels.select(F.col(q).alias("__q"), F.col(d).alias("__d"),
                      rel.alias("__rel"))
    if rank_col is not None:
        res = results.select(F.col(q).alias("__q"), F.col(d).alias("__d"),
                             F.col(rank_col).cast("bigint").alias("__rk"))
    else:
        if score_col is None:
            raise ValueError("need score_col or rank_col")
        wr = Window.partitionBy(F.col(q)).orderBy(
            F.col(score_col).desc(), F.col(d).asc())
        res = results.select(
            F.col(q).alias("__q"), F.col(d).alias("__d"),
            F.row_number().over(wr).alias("__rk"))
    topk = res.filter(F.col("__rk") <= k)

    gain = "(pow(2.0, __rel) - 1.0)"
    matched = topk.join(qr, ["__q", "__d"]).groupBy("__q").agg(
        F.count("*").cast("bigint").alias("hits"),
        F.min("__rk").alias("__first"),
        F.expr(f"SUM({gain} / log2(__rk + 1))").alias("__dcg"),
    )
    wi = Window.partitionBy("__q").orderBy(
        F.col("__rel").desc(), F.col("__d").asc())
    rel_stats = (
        qr.withColumn("__irk", F.row_number().over(wi))
        .groupBy("__q")
        .agg(
            F.count("*").cast("bigint").alias("n_rel"),
            F.expr(
                f"SUM(CASE WHEN __irk <= {k} THEN {gain} / log2(__irk + 1) "
                f"ELSE 0.0 END)"
            ).alias("__idcg"),
        )
    )
    out = (
        rel_stats.join(matched, "__q", "left")
        .select(
            F.col("__q").alias(q),
            "n_rel",
            F.coalesce("hits", F.lit(0)).alias("hits"),
            (F.coalesce("hits", F.lit(0)) / F.lit(float(k))
             ).alias(f"precision_{k}"),
            (F.coalesce("hits", F.lit(0)) / F.col("n_rel")
             ).alias(f"recall_{k}"),
            F.coalesce(1.0 / F.col("__first"), F.lit(0.0)).alias("mrr"),
            F.when(F.col("__idcg") > 0,
                   F.coalesce("__dcg", F.lit(0.0)) / F.col("__idcg"))
            .otherwise(F.lit(0.0)).alias("ndcg"),
        )
    )
    return out
