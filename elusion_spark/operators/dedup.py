"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard.

Beyond-parity module (SURVEY §7.2 step 10) for training-data pipelines.

100 TB design notes
-------------------
- *Exact*: a hash-groupBy — one shuffle on the content hash.  At scale the
  content hash (md5) is tiny compared to the payload, so we shuffle only
  (hash, id) pairs and never move document bodies.
- *MinHash-LSH*: the classic shingle → minhash → band → bucket-join
  pipeline, entirely with built-in collection functions (no Python UDFs):
  shingle HASHES (never strings) are materialized once, signatures derive
  from them (O(H·S) long-hashes), then ONE shuffle on (band_idx,
  band_hash).  Pair scoring defaults to the signature-agreement estimator;
  exact verification joins the hash sets only for candidate pairs.
  Hot buckets (boilerplate docs) are capped with ``max_bucket_size`` —
  the standard skew guard: a bucket of B docs yields B² pairs, so a
  100k-doc boilerplate bucket would explode; capped buckets degrade
  recall gracefully instead of OOMing an executor (verified: a corpus
  where every doc has 19 exact copies produces 1M+ pairs without OOM).
- *SimHash*: 64-bit signature via bitwise token-hash majority; candidates
  via 4×16-bit band blocking; Hamming-distance verify with bit_count.
- *n-gram Jaccard*: exact verify primitive shared by the above.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# ------------------------------------------------------------------- exact

def _integral_id(df: DataFrame, col: str) -> bool:
    from pyspark.sql import types as T

    return isinstance(
        df.schema[col].dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
    )


def _id_out(df: DataFrame, id_col: str):
    """Output-boundary id normalization, shared by every pair-emitting
    operator: integral input ids widen to bigint (stable schemas for
    the SQL oracles), any OTHER id type passes through NATIVE.  A
    blanket ``cast("bigint")`` on the output silently NULLed
    string/UUID document ids — every pair became (NULL, NULL) and the
    downstream anti-join dropped nothing — the same defect class as
    the stream_minhash/funnel_stream state-key casts, at the batch
    output boundary.  Decided from the INPUT frame's id type, before
    any internal renames."""
    widen = _integral_id(df, id_col)

    def _c(name: str, alias: str | None = None) -> Column:
        c = F.col(name)
        if widen:
            c = c.cast("bigint")
        return c.alias(alias) if alias else c

    return _c


def exact_dedup(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Keep one row per distinct (cols) combination — hash-groupBy shuffle."""
    return df.dropDuplicates(cols) if cols else df.dropDuplicates()


def exact_dup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Group identical texts by content hash: (text_hash, keep_id,
    dup_count).  Shuffles only (hash, id) — not the text bodies."""
    keep = F.min(id_col)
    if _integral_id(df, id_col):
        keep = keep.cast("bigint")
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            keep.alias("keep_id"),
            F.count("*").cast("bigint").alias("dup_count"),
        )
    )


# ---------------------------------------------------------------- shingles

def shingle_expr(text_col: str, k: int = 3) -> Column:
    """Distinct word-k-shingles as an array column (guarding short docs —
    Spark's ``sequence(0, -1)`` would generate a *descending* range)."""
    toks = f"split(lower(trim({text_col})), ' +')"
    return F.expr(
        f"CASE WHEN size({toks}) < {k} THEN array(concat_ws(' ', {toks})) "
        f"ELSE array_distinct(transform(sequence(0, size({toks}) - {k}), "
        f"i -> concat_ws(' ', slice({toks}, i + 1, {k})))) END"
    )


def shingle_hash_expr(text_col: str, k: int = 3) -> Column:
    """Distinct word-k-shingle HASHES (array<bigint>) without materializing
    shingle strings: tokens are xxhash64'd once, then each shingle hash is
    xxhash64 over its k token hashes (unrolled element_at lookups — k is a
    literal).  HOFs run interpreted, so skipping the per-shingle
    slice+concat string work matters: this is ~4× faster than hashing
    ``shingle_expr`` output, and Jaccard over the hash sets equals Jaccard
    over the string sets up to 64-bit collisions."""
    toks = f"split(lower(trim({text_col})), ' +')"
    th = f"transform({toks}, t -> xxhash64(t))"
    members = ", ".join(f"element_at(h, i + {j + 1})" for j in range(k))
    # `transform(array(<th>), h -> …)[1]` binds the token-hash array to a
    # lambda variable so it is evaluated ONCE per row — naive inlining
    # would re-run the token hashing for every element_at lookup.
    return F.expr(
        f"CASE WHEN size({toks}) < {k} THEN array(xxhash64(lower(trim({text_col})))) "
        f"ELSE array_distinct(element_at(transform(array({th}), h -> "
        f"transform(sequence(0, size(h) - {k}), i -> xxhash64({members}))"
        f"), 1)) END"
    )


def jaccard_expr(a: str, b: str) -> Column:
    """Exact Jaccard similarity of two (distinct-element) array columns."""
    return F.expr(
        f"CAST(size(array_intersect({a}, {b})) AS DOUBLE) / "
        f"CAST(size(array_union({a}, {b})) AS DOUBLE)"
    )


# ------------------------------------------------------------- minhash-lsh

def minhash_signature_from_hashes(hashes_col: str, num_hashes: int = 64) -> Column:
    """Signature from an already-hashed shingle array (array<bigint>):
    the H-member family is derived by re-hashing fixed-width longs —
    O(H·S) long-hashes, no string work."""
    return F.expr(
        f"transform(sequence(0, {num_hashes - 1}), i -> "
        f"array_min(transform({hashes_col}, h -> xxhash64(i, h))))"
    )


def _minhash_sign(frame: DataFrame, num_hashes: int, shingle_k: int):
    """The one MinHash signer.  ``frame`` holds ``__id``, ``__text`` and
    any key columns that ride along; returns ``(hashed, sigs)``: the
    distinct shingle hashes ``(__id, *keys, __h)`` and the signatures
    ``(__id, *keys, __sig)`` derived from them.  Nothing is persisted:
    the caller caches the one frame two of its plan branches read and
    releases it before returning (see ``minhash_dedup_pairs``)."""
    from .similarity import _ensure_parallelism

    keys = [c for c in frame.columns if c != "__text"]
    hashed = _ensure_parallelism(frame).select(
        *keys, shingle_hash_expr("__text", shingle_k).alias("__h"))
    sigs = hashed.select(
        *keys, minhash_signature_from_hashes("__h", num_hashes).alias("__sig"))
    return hashed, sigs


def _band_hashes(num_hashes: int, bands: int) -> Column:
    """``posexplode`` of the ``bands`` band hashes of ``__sig`` (each
    over ``num_hashes / bands`` consecutive rows) as ``(band_idx,
    band_hash)``.  Bands must tile the signature: a zero-row band
    hashes the empty slice, so every document would collide in it."""
    if not 1 <= bands <= num_hashes or num_hashes % bands:
        raise ValueError(
            f"bands must divide num_hashes with 1 <= bands <= num_hashes "
            f"(got num_hashes={num_hashes}, bands={bands})")
    rows = num_hashes // bands
    return F.posexplode(
        F.expr(f"transform(sequence(0, {bands - 1}), b -> "
               f"hash(slice(__sig, b * {rows} + 1, {rows})))")
    ).alias("band_idx", "band_hash")


def _cap_buckets(frame: DataFrame, keys: list[str], order_col: str,
                 cap: int | None) -> DataFrame:
    """Skew guard shared by every blocking key: keep the first ``cap``
    rows of each ``keys`` bucket in ``order_col`` order (a bucket of B
    rows yields B² candidate pairs).  ``cap=None`` is uncapped."""
    if cap is None:
        return frame
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(order_col)
    return (
        frame.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= F.lit(cap))
        .drop("__rn")
    )


def _bucket_pairs(b: DataFrame, keys: list[str]) -> DataFrame:
    """The one bucket self-join: self-join the (already capped, see
    ``_cap_buckets``) bucket frame ``b`` on ``keys`` and keep
    ``id_a < id_b``.  ``__id`` comes out as ``id_a``/``id_b`` and every
    other non-key column ``c`` as ``<c>_a``/``<c>_b`` (leading
    underscores dropped); callers verify and dedup the pairs.  Both
    join sides read ``b``; whether to cache it is the caller's call
    (``_checkpointed``)."""

    def side(s: str) -> DataFrame:
        return b.select(*[
            c if c in keys else F.col(c).alias(f"{c.lstrip('_')}_{s}")
            for c in b.columns
        ])

    return side("a").join(side("b"), keys).filter(
        F.col("id_a") < F.col("id_b"))


def _checkpointed(build, *frames: DataFrame) -> DataFrame:
    """The one owner of an operator's caches: persist ``frames`` in
    order (a later one may read an earlier one), return ``build()`` as
    an eager ``localCheckpoint`` and unpersist every cache in
    ``finally``.  The result reads the checkpoint, not the caches, so
    nothing the call persisted outlives it; the checkpoint blocks are
    RDD-scoped and the ContextCleaner reclaims them once the result is
    garbage-collected.  Pass a frame only when two plan branches read
    it."""
    from pyspark import StorageLevel

    held = []
    try:
        for f in frames:
            held.append(f.persist(StorageLevel.MEMORY_AND_DISK))
        return build().localCheckpoint(eager=True)
    finally:
        for f in held:
            f.unpersist()


def _minhash_jaccard(cand: DataFrame, verify: str, num_hashes: int,
                     threshold: float, sigs: DataFrame | None,
                     hashed: DataFrame | None) -> DataFrame:
    """The one MinHash pair scorer: candidate pairs ``(id_a, id_b)``
    gain ``jaccard`` and keep ``jaccard >= threshold``.  ``'estimate'``
    is signature agreement over ``sigs`` ``(__id, __sig)`` — matching
    components / H, the unbiased MinHash estimator; ``'exact'`` is the
    Jaccard of the shingle-hash sets in ``hashed`` ``(__id, __h)``
    (string-set Jaccard up to 64-bit collisions)."""
    if verify == "estimate":
        side, col, v = sigs, "__sig", "sig"
        score = F.expr(
            f"CAST(size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), "
            f"v -> v)) AS DOUBLE) / {float(num_hashes)!r}")
    elif verify == "exact":
        side, col, v = hashed, "__h", "sh"
        score = jaccard_expr("sh_a", "sh_b")
    else:
        raise ValueError(
            f"verify must be 'estimate' or 'exact', got {verify!r}")
    return (
        cand.join(side.select(F.col("__id").alias("id_a"),
                              F.col(col).alias(f"{v}_a")), "id_a")
        .join(side.select(F.col("__id").alias("id_b"),
                          F.col(col).alias(f"{v}_b")), "id_b")
        .withColumn("jaccard", score)
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int = 200,
    verify: str = "estimate",
    group_col: str | None = None,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard >= threshold).

    ``group_col`` scopes the blocking: bucket joins happen inside
    (group, band) so pairs never cross groups — per-language or
    per-domain dedup in ONE pass instead of a loop over filters, the
    same contract as ``hamming_near_dup_pairs(group_col=...)``.  The
    output gains the group column when set.

    Pipeline: shingle → minhash(H) → B bands of H/B rows → bucket join on
    (band_idx, band_hash) → Jaccard filter.  ``bands`` must divide
    ``num_hashes``.

    ``verify='estimate'`` (the 100 TB path) scores pairs by signature
    agreement (matching components / H — the unbiased MinHash estimator,
    σ≈sqrt(j(1-j)/H)): no shingle sets ever cross a shuffle, per-pair
    work is a 2×H array compare.  ``verify='exact'`` joins the shingle
    sets back for candidate pairs and computes true Jaccard.  Any other
    value raises ``ValueError``.

    Materialization strategy (this is the load-bearing part): distinct
    shingle HASHES (``shingle_hash_expr`` — no shingle strings are ever
    built) are computed once and signatures derive from those longs.
    Higher-order functions evaluate interpreted (CodegenFallback) with
    no subexpression elimination, so a fused shingle→signature
    expression would re-run the text split once per hash-family member
    — measured ~3× slower end-to-end even at sf0.01.  Exactly one
    signature-side frame is cached, the one two plan branches read:
    ``hashed`` for ``'exact'`` (banding via the signatures + both verify
    sides), the signatures for ``'estimate'`` (banding + both scoring
    sides); the capped bucket frame (both self-join sides) is the
    other cache.  The result is returned as an eager ``localCheckpoint``
    and both caches are released before the call returns
    (``_checkpointed``), so repeated calls leave nothing cached."""
    band = _band_hashes(num_hashes, bands)
    gsel = [F.col(group_col).alias("__grp")] if group_col else []
    gcols = ["__grp"] if group_col else []
    hashed, sigs = _minhash_sign(
        df.select(F.col(id_col).alias("__id"),
                  F.col(text_col).alias("__text"), *gsel),
        num_hashes, shingle_k)
    keys = gcols + ["band_idx", "band_hash"]
    # band explode carries ONLY (id, [group,] band_idx, band_hash)
    b = _cap_buckets(sigs.select("__id", *gcols, band), keys, "__id",
                     max_bucket_size)
    cand = (
        _bucket_pairs(b, keys)
        .select(*gcols, "id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    out_g = [F.col("__grp").alias(group_col)] if group_col else []
    oc = _id_out(df, id_col)
    return _checkpointed(
        lambda: _minhash_jaccard(cand, verify, num_hashes, threshold,
                                 sigs, hashed)
        .select(*out_g, oc("id_a"), oc("id_b"), "jaccard"),
        hashed if verify == "exact" else sigs, b)


def minhash_dedup(
    df: DataFrame, id_col: str, text_col: str, **kwargs
) -> DataFrame:
    """Drop near-duplicates: anti-join every ``id_b`` of the pair list,
    so each pair keeps its smaller id.  Not a cluster resolution — pairs
    (1, 3) and (2, 3) keep both 1 and 2 even when they form one
    cluster.  For one survivor per cluster on integral ids use
    ``dedup_keep_cluster_min``."""
    pairs = minhash_dedup_pairs(df, id_col, text_col, **kwargs)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


# ----------------------------------------------------------------- simhash

def _token_hash_sql(token_expr: str, hash_fn: str) -> str:
    """Per-token 64/60-bit hash.  ``xxhash64`` is the production default;
    ``md5`` takes the first 15 hex digits of md5 (60 bits) — slower, but
    bit-identical to ``('0x'||substr(md5(t),1,15))::BIGINT`` in DuckDB,
    which makes the whole SimHash pipeline cross-engine oracle-checkable."""
    if hash_fn == "md5":
        return f"cast(conv(substr(md5({token_expr}), 1, 15), 16, 10) as bigint)"
    return f"xxhash64({token_expr})"


def simhash_expr(text_col: str, bits: int = 64,
                 hash_fn: str = "xxhash64") -> Column:
    """SimHash signature: per-bit majority vote over token hashes.
    O(bits · tokens) JVM expression work per row, no UDF.  The token-hash
    array is lambda-bound (``transform(array(…), h -> …)[1]``) so the
    tokenize+hash runs once per row, not once per bit — HOFs evaluate
    interpreted with no subexpression elimination.  ``hash_fn='md5'``
    (use with bits<=60) makes the signature reproducible in DuckDB."""
    toks = f"array_distinct(split(lower(trim({text_col})), ' +'))"
    th = f"transform({toks}, t -> {_token_hash_sql('t', hash_fn)})"
    # `shiftright(v, i)` not `v >> i`: the `>>` token breaks the SQL
    # parser at this lambda-nesting depth (read as two `>`)
    return F.expr(
        f"element_at(transform(array({th}), h -> "
        f"aggregate(transform(sequence(0, {bits - 1}), i -> "
        f"  CASE WHEN aggregate(h, 0L, "
        f"       (acc, v) -> acc + CASE WHEN (shiftright(v, i) & 1) = 1 THEN 1 ELSE -1 END) > 0 "
        f"  THEN shiftleft(1L, i) ELSE 0L END), 0L, (a, b) -> a | b)), 1)"
    )


def _simhash_md5_udf(bits: int):
    """SimHash signature as a vectorized pandas_udf for the md5 hash mode:
    hashlib.md5 runs at C speed and the per-bit majority vote is one
    numpy broadcast per row — ~4x faster than the interpreted
    md5+conv SQL expression chain, with BIT-IDENTICAL output (same
    tokenizer: split ' +' on lower/trim; same 60-bit md5-prefix hash the
    DuckDB oracle reproduces)."""
    import hashlib as _hashlib
    import re as _re

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    shifts = np.arange(bits, dtype=np.uint64)

    def _sig(texts):
        out = np.empty(len(texts), dtype=np.int64)
        for i, t in enumerate(texts):
            toks = dict.fromkeys(_re.split(" +", (t or "").strip(" ").lower()))
            hs = np.array(
                [int(_hashlib.md5(tok.encode()).hexdigest()[:15], 16)
                 for tok in toks],
                dtype=np.uint64,
            )
            votes = (2 * ((hs[:, None] >> shifts) & 1).astype(np.int64) - 1).sum(axis=0)
            out[i] = int(((votes > 0).astype(np.uint64) << shifts).sum())
        return pd.Series(out)

    _sig.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return pandas_udf(_sig, "long")


def simhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket_size: int = 200,
    bits: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash: block on one of ``bands`` equal-width
    bands (a pair within Hamming distance ``bands - 1`` must agree on at
    least one band — pigeonhole, so recall is EXACT for
    ``max_hamming < bands``), verify with bit_count(xor).
    ``max_bucket_size`` caps templated-text buckets (B docs → B² pairs)
    the same way the MinHash path does — degraded recall beats an OOM.

    The banding/join/verify machinery is the signature-agnostic
    ``hamming_near_dup_pairs`` — any 64-bit locality-sensitive
    signature (SimHash here, image perceptual hashes in
    ``multimodal.image_near_dup_pairs``) shares it."""
    # md5 mode goes through the vectorized Arrow UDF (same output bits,
    # ~4x the throughput of the interpreted SQL chain)
    sim = (
        _simhash_md5_udf(bits)(F.col(text_col)) if hash_fn == "md5"
        else simhash_expr(text_col, bits, hash_fn)
    )
    return hamming_near_dup_pairs(
        df, id_col, sim, max_hamming=max_hamming, bands=bands,
        max_bucket_size=max_bucket_size, bits=bits,
    )


def hamming_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    sig_col,
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket_size: int = 200,
    bits: int = 64,
    group_col: str | None = None,
) -> DataFrame:
    """Generic Hamming-space near-dup pairs over ANY precomputed
    ``bits``-wide integer signature column (name or Column expression):
    SimHash text signatures, image dHash/pHash, audio chromaprints —
    one blocking engine for all of them.

    Pigeonhole blocking: split the signature into ``bands`` equal-width
    bands; a pair within Hamming distance ``bands - 1`` agrees on at
    least one band, so for ``max_hamming < bands`` recall is EXACT
    (never a heuristic).  One shuffle on (band_idx, band_val); the
    exact ``bit_count(xor)`` verify runs BEFORE the pair dedup, so the
    expensive shuffle carries survivors only.  ``max_bucket_size`` caps
    degenerate buckets (B identical signatures → B² candidate pairs) —
    at 100 TB degraded recall on pathological templates beats an OOM.

    ``group_col`` scopes the search: pairs form only WITHIN a group
    (language/domain-scoped dedup; frame-index-aligned video matching)
    — the group key simply joins the blocking key, so cross-group
    candidates never materialize at all.  With a group, the output
    carries it and ``(group, id_a, id_b)`` is the dedup key (the same
    id pair may legitimately match in several groups — video frame
    counting depends on exactly that).

    Returns ``(id_a, id_b, hamming)`` with ``id_a < id_b`` (plus the
    group column when ``group_col`` is set).  Nothing is cached: the
    signature has one reader (the band explode), and caching the capped
    bucket frame for the two self-join sides did not pay at sf0.1
    (SCALE.md), so the result stays lazy."""
    from .similarity import _ensure_parallelism

    if not 1 <= bands <= bits:
        # a zero-width band puts every signature into one bucket
        raise ValueError(
            f"bands must be in 1..bits (got bits={bits}, bands={bands})")
    width = bits // bands
    sig = F.col(sig_col) if isinstance(sig_col, str) else sig_col
    gcols = [group_col] if group_col else []
    keys = gcols + ["band_idx", "band_val"]
    oc = _id_out(df, id_col)
    banded = (
        _ensure_parallelism(df)
        .select(*gcols, F.col(id_col).alias("__id"),
                sig.cast("long").alias("__sim"))
        .select(
            *gcols,
            "__id",
            "__sim",
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, {bands - 1}), b -> "
                    f"shiftright(__sim, b * {width}) & {(1 << width) - 1}L)"
                )
            ).alias("band_idx", "band_val"),
        )
    )
    b = _cap_buckets(banded, keys, "__id", max_bucket_size)
    # verify (bit_count on two longs) is far cheaper than the pair-dedup
    # shuffle, so filter FIRST and dedup only the survivors — the
    # multi-band duplicate factor is at most `bands`
    return (
        _bucket_pairs(b, keys)
        .withColumn(
            "hamming",
            F.expr("bit_count(sim_a ^ sim_b)").cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(gcols + ["id_a", "id_b"])
        .select(*gcols, oc("id_a"), oc("id_b"), "hamming")
    )


# ----------------------------------------------------------- ngram jaccard

def ngram_jaccard_vs_reference(
    df: DataFrame, id_col: str, text_col: str, ref_text: DataFrame, n: int = 2
) -> DataFrame:
    """Jaccard similarity of every doc's word-n-gram set against a single
    reference doc (1-row DataFrame with column ``text``).  Linear scan +
    broadcast of the reference — the oracle-checkable primitive."""
    bg = (
        f"CASE WHEN size(split({text_col}, ' ')) < {n} THEN array({text_col}) "
        f"ELSE array_distinct(transform(sequence(0, size(split({text_col}, ' ')) - {n}), "
        f"i -> concat_ws(' ', slice(split({text_col}, ' '), i + 1, {n})))) END"
    )
    left = df.select(F.col(id_col), F.expr(bg).alias("__bg"))
    ref = ref_text.select(
        F.expr(bg.replace(text_col, "text")).alias("__ref_bg")
    )
    return (
        left.crossJoin(F.broadcast(ref))
        .withColumn("jaccard", jaccard_expr("__bg", "__ref_bg"))
        .select(id_col, "jaccard")
    )


# ------------------------------------------------------- cluster resolve

def _require_integral_pair_ids(pairs: DataFrame) -> None:
    """Connected components keys its labels/union-find on longs; a
    silent bigint cast would NULL string ids and collapse the whole edge
    set into one phantom component.  Fail loudly instead, with the
    standard escapes."""
    for c in ("id_a", "id_b"):
        if not _integral_id(pairs, c):
            raise ValueError(
                f"connected_components requires integral pair ids (got "
                f"{c}: {pairs.schema[c].dataType.simpleString()}); map "
                "string/UUID ids to longs first — F.xxhash64(id) "
                "(collision odds ~2^-64) or a row_number id catalog — "
                "and join the labels back."
            )


# Edge sets at or below this many edges resolve with a driver union-find
# after one bounded collect (2M edges ≈ 32 MB — same order as the
# broadcast-join threshold); larger sets take star contraction.
DRIVER_MAX_EDGES = 2_000_000
# Star-contraction round cap.  Convergence takes O(log² n) rounds
# whatever the component diameter; a graph that has not reached its
# fixed point by then raises.  Sorted-id chains, the slowest shape
# measured, took 7 / 11 / 15 / 18 rounds (confirming round included)
# at 41 / 1k / 10k / 100k nodes — about 3.5 rounds per decade, so 40
# covers chains past 10^11 nodes (25 would raise near 10M, inside the
# star side's range).
STAR_MAX_ROUNDS = 40


def connected_components(pairs: DataFrame) -> DataFrame:
    """Resolve duplicate-pair edges into clusters: (id, cluster_id) with
    cluster_id = min member id, for every id on an edge whose endpoints
    are both non-NULL (self-loops included; NULL-endpoint edges are
    ignored).

    Strategy is size-adaptive, the same way Spark picks broadcast vs
    shuffle joins: edge sets at or below ``DRIVER_MAX_EDGES`` are
    collected and resolved with a driver-side union-find in one job;
    larger sets run large-star / small-star contraction (Kiveris et al.,
    *Connected Components in MapReduce and Beyond*, SoCC'14), which
    converges in O(log² n) rounds regardless of component DIAMETER — a
    chain of temporal near-dup versions A~B~C~… costs no more rounds
    than a clique.  Dedup edge sets are overwhelmingly small relative to
    the corpus (they are the *output* of banding/blocking), so the driver
    path is the common case and skips every round's multi-stage
    scheduling latency; star contraction is the 100 TB safety net.  If
    it has not reached its fixed point within ``STAR_MAX_ROUNDS`` rounds
    it raises ``ElusionError`` rather than return partial labels.  Both
    sides give identical labels; tests force the star side by
    monkeypatching ``DRIVER_MAX_EDGES`` to 0."""
    from pyspark import StorageLevel

    _require_integral_pair_ids(pairs)
    edges = pairs.select(
        F.col("id_a").cast("bigint").alias("src"),
        F.col("id_b").cast("bigint").alias("dst"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # one-job size probe + fetch: grab up to the gate + 1 rows; if we
        # got them all, resolve right here without ever touching the
        # distributed machinery (a separate count() was a second job, and
        # toLocalIterator fetched partitions sequentially — both slower)
        probe = edges.limit(DRIVER_MAX_EDGES + 1).collect()
        if len(probe) <= DRIVER_MAX_EDGES:
            return _driver_union_find(edges.sparkSession, probe)
        return _star_contraction(edges)
    finally:
        edges.unpersist()


def _star_contraction(edges: DataFrame) -> DataFrame:
    """Connected components of the persisted (src, dst) edge frame by
    alternating large-star / small-star contraction.  Each round:
    - *large-star*: every node u connects its LARGER neighbours to
      ``m(u) = min(N(u) ∪ u)`` — components shrink toward small ids
      without ever creating an edge to a larger id (monotone, safe);
    - *small-star*: from the (larger→smaller)-oriented edges, every node
      rewires its smaller neighbours (and itself) onto its minimum —
      flattening chains into stars.
    Connectivity is preserved exactly by both (the paper's invariant);
    convergence = the edge multiset stops changing, checked by a
    (count, hash-xor) fingerprint materialized by the same action that
    checkpoints the round.  Final state: every non-root points directly
    at its component min.

    Each round's edges are ``localCheckpoint``ed — iterative algorithms
    MUST truncate lineage or the analyzed plan doubles per round
    (minutes of driver time by round ~8).  The checkpoint is *lazy*: the
    fingerprint is the action that materializes it, so each round costs
    exactly ONE job.  The labels are checkpointed eagerly on return, so
    the caller's frame no longer reads ``edges`` once it is released."""
    from ..errors import ElusionError

    valid = edges.filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
    # ids come from the non-NULL edges BEFORE the self-loop filter: an id
    # seen only on a self-loop is its own singleton cluster, as in the
    # driver union-find
    all_ids = (
        valid.select(F.col("src").alias("id"))
        .union(valid.select(F.col("dst").alias("id")))
        .distinct()
    )
    e = valid.filter(F.col("src") != F.col("dst")).distinct()
    prev_fp = None
    for _ in range(STAR_MAX_ROUNDS):
        # ---- large-star: neighbours > u attach to min(N(u) ∪ u)
        sym = e.union(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        mins = (
            sym.groupBy("src")
            .agg(F.min("dst").alias("__m"))
            .withColumn("__m", F.least(F.col("__m"), F.col("src")))
        )
        ls = (
            sym.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("__m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        # ---- small-star: edges now orient larger→smaller; each node
        # rewires its smaller neighbours and itself onto its minimum
        mins1 = ls.groupBy("src").agg(F.min("dst").alias("__m"))
        ss = (
            ls.join(mins1, "src")
            .select(F.col("dst").alias("src"), F.col("__m").alias("dst"))
            .union(mins1.select("src", F.col("__m").alias("dst")))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        e = ss.localCheckpoint(eager=False)
        fp = e.agg(
            F.count("*").alias("n"),
            # bit_xor, not sum: ANSI mode overflows summing 64-bit hashes
            F.expr("bit_xor(xxhash64(src, dst))").alias("h"),
        ).first()
        fp = (fp["n"], fp["h"])
        if fp == prev_fp:
            break
        prev_fp = fp
    else:
        raise ElusionError(
            "connected_components: star contraction did not reach its "
            f"fixed point within STAR_MAX_ROUNDS={STAR_MAX_ROUNDS} rounds "
            f"(last round left {fp[0]} edges)",
            "Raise dedup.STAR_MAX_ROUNDS for this graph, or shrink its "
            "edge set first (a stricter dedup threshold or bucket cap).",
        )
    labels = e.select(F.col("src").alias("id"),
                      F.col("dst").alias("cluster_id"))
    roots = all_ids.join(
        labels.select(F.col("id")), "id", "left_anti"
    ).select("id", F.col("id").alias("cluster_id"))
    return labels.union(roots).localCheckpoint()


def _driver_union_find(spark, edge_rows) -> DataFrame:
    """Exact union-find (path compression + union by root order) over a
    collected edge list; labels every touched id with its component's
    minimum id.  Only ever called on a size-gated edge set."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for row in edge_rows:
        a, b = row[0], row[1]
        if a is None or b is None:
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:  # attach the larger root under the smaller
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    if not parent:
        return spark.createDataFrame([], "id long, cluster_id long")
    import pandas as pd

    pdf = pd.DataFrame(
        {"id": list(parent), "cluster_id": [find(x) for x in parent]}
    )
    return spark.createDataFrame(pdf.astype("int64"), "id long, cluster_id long")


def dedup_keep_cluster_min(
    df: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """Exact transitive dedup: resolve pair edges to clusters, keep the
    min-id member of each cluster (plus all unpaired rows)."""
    cc = connected_components(pairs)
    losers = cc.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


# -------------------------------------------------- incremental (store)

def build_signature_store(
    df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    mode: str = "overwrite",
) -> None:
    """Persist the MinHash signature layout for a corpus so FUTURE
    increments dedup against it without re-reading the corpus: two
    parquet tables under ``path`` — ``sigs`` (id, signature) and
    ``banded`` (band_idx, band_hash, id).

    This is the incremental-ingest pattern a 100 TB lake actually runs:
    the full-corpus banding/signature pass happens ONCE; each day's
    increment then joins its own (tiny) banded frame against the store.
    Store size is O(docs · (H + B) · 8B) — document bodies are never
    stored or re-read.  ``mode="append"`` admits an accepted increment
    into the store (append-only — its ids must be new; the store never
    rewrites history).

    At full scale, register ``banded`` as a bucketed table on
    (band_idx, band_hash) (`operators.scale.write_bucketed`) and the
    incremental join's store side needs no shuffle at all."""
    from pyspark import StorageLevel

    band = _band_hashes(num_hashes, bands)
    _, sigs = _minhash_sign(
        df.select(F.col(id_col).alias("__id"),
                  F.col(text_col).alias("__text")),
        num_hashes, shingle_k)
    # two writes read the signatures: cache them for this call only
    sigs = sigs.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        sigs.select(
            F.col("__id").alias("id"), F.col("__sig").alias("sig")
        ).write.mode(mode).parquet(f"{path}/sigs")
        sigs.select(F.col("__id").alias("id"), band).write.mode(
            mode).parquet(f"{path}/banded")
    finally:
        sigs.unpersist()


def incremental_minhash_pairs(
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    store_path: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int = 200,
    verify: str = "estimate",
    corpus_df: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs TOUCHING the increment: every (id_a < id_b,
    jaccard) pair where at least one side is a new document — new-vs-
    store and new-vs-new, scored by the signature-agreement estimator.

    ``verify='exact'`` (audit/oracle path) rescores surviving candidates
    with TRUE Jaccard over shingle-hash sets; it needs the candidate
    documents' text, so pass ``corpus_df`` covering store ∪ increment
    (this re-reads matched documents only — candidates, not the corpus —
    but it is the testing path; production stays on the estimator).
    ``verify`` is parsed exactly as in ``minhash_dedup_pairs``.

    Cost shape (the whole point): the increment is shingled/signed in
    full, but the store contributes only the band-bucket rows that
    COLLIDE with the increment's buckets — a semi-join-sized read, never
    a corpus re-scan.  One shuffle on (band_idx, band_hash) whose store
    side carries (id, 2 longs); signatures join in only for surviving
    candidates.  Equivalent-by-construction to re-running the batch pair
    scan on (store ∪ increment) and keeping pairs that touch the
    increment (asserted in tests).

    The increment's signatures (band explode + both scoring sides) and
    the capped bucket frame (both self-join sides) are cached for the
    call only: the result is an eager ``localCheckpoint`` and reads
    neither the caches nor the store afterwards (``_checkpointed``), so
    the caller may delete ``store_path`` once this returns."""
    band = _band_hashes(num_hashes, bands)
    spark = new_df.sparkSession
    _, new_sigs = _minhash_sign(
        new_df.select(F.col(id_col).alias("__id"),
                      F.col(text_col).alias("__text")),
        num_hashes, shingle_k)
    keys = ["band_idx", "band_hash"]
    new_banded = new_sigs.select("__id", band, F.lit(True).alias("is_new"))

    store_banded = spark.read.parquet(f"{store_path}/banded").select(
        F.col("id").alias("__id"), "band_idx", "band_hash",
        F.lit(False).alias("is_new"),
    )
    # prune the store to colliding buckets BEFORE the skew cap/self-join:
    # at 100 TB this is the difference between reading bucket rows for
    # one day's collisions and re-scanning the corpus layout
    hot = new_banded.select(*keys).distinct()
    store_hit = store_banded.join(hot, keys, "left_semi")
    b = _cap_buckets(store_hit.unionByName(new_banded), keys, "__id",
                     max_bucket_size)
    cand = (
        _bucket_pairs(b, keys)
        .filter(F.col("is_new_a") | F.col("is_new_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    all_sigs = (
        spark.read.parquet(f"{store_path}/sigs")
        .select(F.col("id").alias("__id"), F.col("sig").alias("__sig"))
        .unionByName(new_sigs)
    )
    hashed = None
    if corpus_df is not None:
        hashed = corpus_df.select(
            F.col(id_col).alias("__id"),
            shingle_hash_expr(text_col, shingle_k).alias("__h"),
        )
    elif verify == "exact":
        raise ValueError("verify='exact' needs corpus_df (store ∪ "
                         "increment texts) to rescore candidates")
    oc = _id_out(new_df, id_col)
    return _checkpointed(
        lambda: _minhash_jaccard(
            cand, verify, num_hashes, threshold, all_sigs, hashed,
        ).select(oc("id_a"), oc("id_b"), "jaccard"),
        new_sigs, b)


# ------------------------------------------------------------- containment

def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int = 1000,
) -> DataFrame:
    """Containment near-dup pairs: ``|A∩B| / min(|A|, |B|) >= threshold``
    over distinct shingle sets — the TRUNCATION/QUOTATION detector.
    Symmetric Jaccard structurally misses subset relationships (a
    100-shingle excerpt inside a 1000-shingle page has J ≤ 0.1 but
    containment 1.0); corpus pipelines dedup those with containment
    (e.g. news wire stories republished with added boilerplate).

    Exact inverted-index join, no banding: explode distinct shingle
    HASHES, drop shingles occurring in more than ``max_shingle_df``
    documents (stop-shingles: each shingle of document frequency d
    contributes d² candidate pairs, so boilerplate shingles dominate
    cost while carrying no discriminative signal — the cap is the same
    skew guard as the LSH bucket caps, and sizes/intersections are
    computed over the CAPPED universe so the score stays well-defined),
    then one (shingle, id)-keyed self-join counts shared shingles per
    pair.  Shuffles carry (hash, id) longs only; document bodies never
    move.  Recall over the capped universe is exactly 1 — no LSH miss
    probability.

    The capped inverted index (both self-join sides + the sizes) is
    cached for the call only: the result is an eager ``localCheckpoint``
    and the cache is released before returning (``_checkpointed``).
    The per-document sizes re-aggregate from that cache per size join —
    cheaper than caching them too (measured at sf0.1, SCALE.md)."""
    from .similarity import _ensure_parallelism

    oc = _id_out(df, id_col)
    hashed = (
        _ensure_parallelism(
            df.select(F.col(id_col).alias("__id"),
                      F.col(text_col).alias("__text"))
        )
        .select("__id", shingle_hash_expr("__text", shingle_k).alias("__h"))
    )
    inv = hashed.select("__id", F.explode("__h").alias("__s"))
    # document-frequency cap as a WINDOW over the shingle key, not a
    # groupBy + semi-join: one exchange on __s does triple duty — it
    # computes the df, filters stop-shingles, and leaves the frame
    # hash-partitioned by __s so the pair self-join below adds NO
    # further exchange (both aliases of the cached frame satisfy the
    # join's clustering)
    from pyspark.sql import Window

    keep = (
        inv.withColumn(
            "__df", F.count("*").over(Window.partitionBy("__s"))
        )
        .filter(F.col("__df") <= max_shingle_df)
        .drop("__df")
    )
    sizes = keep.groupBy("__id").agg(F.count("*").alias("__sz"))
    shared = (
        keep.alias("a")
        .join(keep.alias("b"), "__s")
        .filter(F.col("a.__id") < F.col("b.__id"))
        .groupBy(F.col("a.__id").alias("id_a"),
                 F.col("b.__id").alias("id_b"))
        .agg(F.count("*").alias("__shared"))
    )
    return _checkpointed(
        lambda: shared.join(sizes.select(F.col("__id").alias("id_a"),
                                         F.col("__sz").alias("__sza")),
                            "id_a")
        .join(sizes.select(F.col("__id").alias("id_b"),
                           F.col("__sz").alias("__szb")), "id_b")
        .withColumn(
            "containment",
            F.round(
                F.col("__shared").cast("double")
                / F.least("__sza", "__szb").cast("double"), 6
            ),
        )
        .filter(F.col("containment") >= threshold)
        .select(oc("id_a"), oc("id_b"), "containment"),
        keep)


def _fuzzy_join_qgram(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    d: int,
    q: int,
    keep_cols: bool,
    _return_candidates: bool = False,
) -> DataFrame:
    """Ed-Join-style positional q-gram prefix filtering (Xiao, Wang,
    Lin, VLDB 2008) — the lossless blocking that stays selective where
    PassJoin segments degenerate (corpora sharing a long common prefix:
    every segment key collides, SCALE.md's supplier fixture).

    Count-filtering bound: ``d`` edits destroy at most ``q`` positional
    q-grams each, so two strings within distance ``d`` must share at
    least ``|G| - d*q`` grams — in particular, under ANY fixed total
    order of the gram vocabulary, their first ``d*q + 1`` grams
    (the "prefix") must intersect, with positions differing by at most
    ``d``.  Ordering grams rarest-first makes the prefix carry the
    DISTINCTIVE grams: a corpus-wide shared prefix contributes only
    high-frequency grams, which sort last and never become join keys —
    exactly inverting the segment scheme's failure mode.

    Strings with fewer than ``d*q + 1`` grams (length < ``q*(d+1)``)
    have no prefix guarantee and route through the length-band join
    (restricted to ``min(len_l, len_r) < q*(d+1)`` so the two paths
    partition the pair space — no duplicates, no loss).

    Plan: per side one explode to ``(row_id, pos, gram)`` triples, one
    broadcast join against the gram-frequency table (vocabulary is
    charset^q — bounded, tiny), one per-row-id window to take the
    prefix, then a gram-keyed candidate join + pair-distinct + two id
    joins back.  Every exchange carries ids/grams/ints, never payloads;
    candidates are bounded by prefix-gram selectivity, not by length
    bands."""
    T = q * (d + 1)
    pi = d * q + 1
    from pyspark.sql import Window

    L2 = left.withColumn("__lid", F.monotonically_increasing_id())
    R2 = right.withColumn("__rid", F.monotonically_increasing_id())

    # --- short-string path: length bands, kept disjoint via min-length
    shortL = L2.filter(F.length(left_col) < T + d)
    shortR = R2.filter(F.length(right_col) < T + d)
    sj = (
        shortL.withColumn(
            "__band",
            F.explode(F.sequence(F.length(left_col) - d,
                                 F.length(left_col) + d)),
        )
        .join(shortR.withColumn("__band", F.length(right_col)), "__band")
        .filter(F.least(F.length(left_col), F.length(right_col)) < T)
        .withColumn("__dist",
                    F.levenshtein(F.col(left_col), F.col(right_col), d))
        .filter(F.col("__dist") >= 0)
        .drop("__band")
    )

    # --- long-string path: rare-first positional q-gram prefixes
    longL = L2.filter(F.length(left_col) >= T)
    longR = R2.filter(F.length(right_col) >= T)

    def grams(df, col, idc):
        return df.select(
            F.col(idc),
            F.posexplode(F.expr(
                f"transform(sequence(1, length({col}) - {q} + 1), "
                f"p -> substr({col}, p, {q}))"
            )).alias("__pos", "__g"),
        )

    gl = grams(longL, left_col, "__lid")
    gr = grams(longR, right_col, "__rid")
    # one fixed global order shared by both sides: document frequency
    # over the RIGHT side (rarest first; unseen grams rank rarest of
    # all).  ANY fixed order is lossless — frequency is the efficiency
    # choice, not a correctness requirement.
    freq = gr.groupBy("__g").agg(F.count("*").alias("__f"))

    def prefix(g, idc):
        w = Window.partitionBy(idc).orderBy(
            F.col("__f").asc_nulls_first(), F.col("__g"), F.col("__pos")
        )
        return (
            g.join(F.broadcast(freq), "__g", "left")
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= pi)
            .drop("__rn", "__f")
        )

    cand = (
        prefix(gl, "__lid").alias("a")
        .join(prefix(gr, "__rid").alias("b"), "__g")
        .filter(F.abs(F.col("a.__pos") - F.col("b.__pos")) <= d)
        .select("__lid", "__rid")
        .distinct()
    )
    if _return_candidates:   # test/diagnostics hook: gram-path
        return cand          # candidate pairs BEFORE the lev filter
    lj = (
        cand.join(longL, "__lid")
        .join(longR, "__rid")
        .withColumn("__dist",
                    F.levenshtein(F.col(left_col), F.col(right_col), d))
        .filter(F.col("__dist") >= 0)
    )
    out = sj.drop("__lid", "__rid").unionByName(
        lj.drop("__lid", "__rid")
    )
    return out if keep_cols else out.select(left_col, right_col, "__dist")


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    max_distance: int = 2,
    keep_cols: bool = True,
    scheme: str = "auto",
    qgram: int = 2,
) -> DataFrame:
    """Edit-distance (Levenshtein) join with LOSSLESS blocking — the
    entity-resolution primitive (matching near-identical names/titles
    across tables without a cartesian product).

    Two lossless blocking schemes (``scheme``):

    - ``'length'`` — length bands only: ``lev(a, b) <= d`` implies
      ``|len(a) - len(b)| <= d``, so the left side replicates to its
      ``2d+1`` candidate lengths and equi-joins the right side's exact
      length.  Cheap (2d+1 replicas) but DEGENERATES to brute force
      when one length band dominates (a corpus of same-length names is
      exactly the worst case — VERDICT r3 'what's wrong' #2).
    - ``'segment'`` — length band AND a PassJoin-style segment
      pigeonhole key (Li, Deng, Feng: PassJoin, PVLDB 2011): each right
      string splits into ``d+1`` contiguous segments; ``d`` edits
      cannot touch all ``d+1`` of them, so some segment survives
      VERBATIM in the left string, displaced by at most ``d``
      positions.  The join key is ``(right_len, segment_idx,
      substring)`` — same-length strings now collide only when they
      truly share an aligned segment, so the dominant-band blowup
      disappears with ZERO recall loss.  Pair multiplicity is exact: a
      pair matching several segments is kept only at its FIRST matching
      segment (an unrolled predicate re-checks earlier segments).
    - ``'qgram'`` — Ed-Join positional q-gram PREFIX filtering (rare
      grams first, see ``_fuzzy_join_qgram``): the scheme for corpora
      where segments degenerate because every string shares a long
      common prefix/stopword segment (SCALE.md supplier fixture —
      shared segments collide quadratically, while the distinctive
      suffix grams are exactly what the rare-first prefix keys on).
      Slightly more plumbing (gram-frequency pass + pair dedup), so
      not the default; pair multiplicity is bag-exact via synthesized
      row ids.
    - ``'auto'`` (default) — ``'segment'`` for ``max_distance <= 4``
      (key fan-out ``(2d+1)²(d+1)`` per left row stays modest),
      ``'length'`` above that.

    The exact ``levenshtein(..., bound)`` then filters candidates —
    thresholded early-exit, O(d·min(len)) per candidate, not O(len²).

    At 100 TB: every moving row carries (key, string) only; the segment
    scheme's fan-out multiplies ROWS, not bytes, and buys per-key
    selectivity that bounds each reducer's candidate product.  Adds
    ``__dist``."""
    d = int(max_distance)
    if scheme == "auto":
        scheme = "segment" if d <= 4 else "length"
    if scheme == "qgram":
        return _fuzzy_join_qgram(
            left, right, left_col, right_col, d, int(qgram), keep_cols
        )
    if scheme == "length":
        L = left.withColumn("__len_l", F.length(left_col)).withColumn(
            "__band",
            F.explode(
                F.sequence(
                    F.col("__len_l") - d,
                    F.col("__len_l") + d,
                )
            ),
        )
        R = right.withColumn("__band", F.length(right_col))
        joined = L.join(R, "__band").withColumn(
            "__dist",
            F.levenshtein(F.col(left_col), F.col(right_col), d),
        ).filter(F.col("__dist") >= 0)
        out = joined.drop("__band", "__len_l")
        return out if keep_cols else out.select(left_col, right_col, "__dist")
    if scheme != "segment":
        raise ValueError(f"fuzzy_join: unknown scheme {scheme!r}")

    k = d + 1
    # segment i of a length-m string: start p_i = i*(m div k) + min(i, m%k),
    # length l_i = (m div k) + (1 if i < m%k else 0)  (0-based positions)
    def _p(i, m):
        return f"({i} * ({m} DIV {k}) + least({i}, {m} % {k}))"

    def _l(i, m):
        return f"(({m} DIV {k}) + IF({i} < {m} % {k}, 1, 0))"

    R = right.withColumn(
        "__m", F.length(right_col)
    ).withColumn(
        "__seg",
        F.explode(F.expr(
            f"transform(sequence(0, {d}), i -> named_struct("
            f"'i', i, "
            f"'s', substr({right_col}, {_p('i', '__m')} + 1, "
            f"{_l('i', '__m')})))"
        )),
    ).withColumn("__i", F.col("__seg.i")).withColumn(
        "__s", F.col("__seg.s")
    ).drop("__seg")

    # left: for every candidate right-length m, segment i, and start q in
    # [p_i - d, p_i + d] ∩ [0, n - l_i], the substring key; array_distinct
    # folds repeated keys so each (pair, i) joins at most once.  sequence()
    # DESCENDS when lo > hi — the IF guard makes empty windows empty.
    qlo = f"greatest(0, {_p('i', 'm')} - {d})"
    qhi = f"least(__n - {_l('i', 'm')}, {_p('i', 'm')} + {d})"
    L = left.withColumn("__n", F.length(left_col)).withColumn(
        "__key",
        F.explode(F.expr(
            f"array_distinct(flatten(transform("
            f"sequence(greatest(0, __n - {d}), __n + {d}), m -> "
            f"flatten(transform(sequence(0, {d}), i -> "
            f"transform(IF({qlo} <= {qhi}, sequence({qlo}, {qhi}), "
            f"array()), "
            f"q -> named_struct('m', m, 'i', i, "
            f"'s', substr({left_col}, q + 1, {_l('i', 'm')}))))))))"
        )),
    )
    joined = L.join(
        R,
        (L["__key.m"] == R["__m"])
        & (L["__key.i"] == R["__i"])
        & (L["__key.s"] == R["__s"]),
    )
    # first-match policy: drop the row unless NO earlier segment j < i
    # also occurs within its shift window — exactly one surviving row
    # per matching pair (multiplicity stays bag-exact, no pair dedup)
    earlier = []
    for j in range(d):
        pj, lj = _p(j, "__m"), _l(j, "__m")
        shifts = " OR ".join(
            f"(({pj} + {t}) >= 0 AND ({pj} + {t}) + {lj} <= __n AND "
            f"substr({left_col}, ({pj} + {t}) + 1, {lj}) = "
            f"substr({right_col}, {pj} + 1, {lj}))"
            for t in range(-d, d + 1)
        )
        earlier.append(f"({j} < __i AND ({shifts}))")
    first_match = ("NOT (" + " OR ".join(earlier) + ")") if earlier else "TRUE"
    out = (
        joined.filter(F.expr(first_match))
        .withColumn(
            "__dist",
            F.levenshtein(F.col(left_col), F.col(right_col), d),
        )
        .filter(F.col("__dist") >= 0)
        .drop("__key", "__n", "__m", "__i", "__s")
    )
    return out if keep_cols else out.select(left_col, right_col, "__dist")


def latest_by_key(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    tiebreak_col: str | None = None,
    keep: str = "latest",
) -> DataFrame:
    """Keep exactly one row per key — the newest (or oldest) by
    ``order_col`` — the versioned-corpus / CDC-compaction primitive
    (re-crawled URLs, re-scored documents, upserted records landing as
    appends).  ``drop_duplicates`` keeps an ARBITRARY row; pipelines
    that re-ingest need the deterministic one.

    ``tiebreak_col`` breaks order ties (pass a unique id for full
    determinism; without it, equal-ordered rows fall back to an
    arbitrary-but-single winner).  ``keep`` is ``latest`` or
    ``earliest``.

    Plan: one hash-partitioned window with ``row_number() = 1`` —
    Spark lowers the rank-filter to WindowGroupLimit, so each partition
    keeps a running top-1 instead of sorting whole groups; one shuffle
    keyed by ``keys``, payload moves once."""
    from pyspark.sql import Window

    if keep not in ("latest", "earliest"):
        raise ValueError(f"keep must be latest/earliest, got {keep!r}")
    order = [
        F.col(order_col).desc() if keep == "latest" else F.col(order_col)
    ]
    if tiebreak_col is not None:
        order.append(
            F.col(tiebreak_col).desc() if keep == "latest"
            else F.col(tiebreak_col)
        )
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def dedup_keep_cluster_best(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    score_col: str,
) -> DataFrame:
    """Exact transitive dedup keeping each cluster's BEST member by
    ``score_col`` (ties break to the smaller id) — the curation-grade
    form of ``dedup_keep_cluster_min``: near-duplicate web pages differ
    in boilerplate and truncation, and the copy worth training on is
    the highest-quality one, not the lowest-id one.

    Plan: components resolve as usual; one (cluster, score)-ranked
    ``max_by`` aggregation over a struct picks the winner per cluster
    (|clusters| rows), and a semi-join keeps winners + all unpaired
    rows.  The extra cost vs keep-min is one broadcastable agg over
    cluster members only — unpaired rows (the overwhelming majority)
    never enter it."""
    cc = connected_components(pairs)  # (id, cluster_id) for PAIRED rows
    scored = cc.join(
        df.select(F.col(id_col).alias("id"), F.col(score_col).alias("__s")),
        "id",
    )
    # max_by over (score, -id): higher score wins, ties -> smaller id
    winners = scored.groupBy("cluster_id").agg(
        F.max_by(
            F.col("id"), F.struct(F.col("__s"), (-F.col("id")).alias("__neg"))
        ).alias(id_col)
    ).select(id_col)
    losers = cc.join(
        winners.select(F.col(id_col).alias("id")), "id", "left_anti"
    ).select(F.col("id").alias(id_col))
    return df.join(losers, id_col, "left_anti")


def dedup_repeated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = ". ",
    min_chars: int = 20,
    out_col: str | None = None,
) -> DataFrame:
    """C4-style repeated-span removal: split every document on ``sep``,
    keep only the globally FIRST occurrence (by ``(id, position)``) of
    each span of at least ``min_chars`` characters, and reassemble the
    texts — the classic "drop any three-sentence span seen elsewhere in
    the corpus" cleanup, at whatever granularity ``sep`` gives
    (sentences with ``'. '``, paragraphs with ``'\\n\\n'``).

    Spans SHORTER than ``min_chars`` are never treated as duplicates
    (articles/numbers/short connectives repeat legitimately).  A later
    duplicate span inside the SAME document is removed too (it is a
    repeat).  Every input id stays in the output; a document losing all
    spans comes back as ``''``.

    Scale shape: exactly two exchanges — the first-occurrence window
    partitions on ``(eligible, md5(span))`` (32-byte keys; partitioning
    ineligible spans separately costs nothing and means no
    union-and-rejoin), the reassembly groups on the id.  Dropped spans
    become NULLs that ``array_join`` skips, so no row is ever filtered
    and no doc-id join is needed to restore empty documents.
    Deterministic under any partitioning: the winner is the global
    ``(id, position)`` minimum, not an arrival order."""
    if min_chars < 1:
        raise ValueError("min_chars must be >= 1")
    from pyspark.sql import Window

    out = out_col or text_col
    spans = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode_outer(
            F.split(F.col(text_col), f"\\Q{sep}\\E")
        ).alias("__i", "__s"),
    )
    elig = F.length("__s") >= min_chars
    w = Window.partitionBy(elig, F.md5("__s")).orderBy("__id", "__i")
    kept = spans.withColumn(
        "__keep", (~elig) | (F.row_number().over(w) == 1)
    ).withColumn("__sv", F.when(F.col("__keep"), F.col("__s")))
    return (
        kept.groupBy("__id")
        .agg(
            F.expr(
                "array_join(transform(array_sort("
                "collect_list(struct(__i, __sv))), s -> s.__sv), "
                f"{sep!r})"
            ).alias(out)
        )
        .withColumnRenamed("__id", id_col)
    )


# --------------------------------------------- sparse TF-IDF cosine pairs

def _doc_features(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ngram: int,
    repartition_for_window: bool = False,
) -> DataFrame:
    """THE feature definition of the sparse TF-IDF family: lowercase,
    trim, split on ``' +'``, drop empties; for ``ngram > 1``,
    space-joined word n-grams assembled with a ``lead`` window on the
    id key (a NULL last lead marks a truncated tail gram).  Returns
    ``(__id, __t)``.

    SINGLE SOURCE OF TRUTH shared by ``tfidf_weights`` (the features
    the prefix join actually pairs on) and ``_grain_df_stats`` (the
    features the auto-grain rule measures) — if these ever diverged,
    ``tfidf_auto_grain`` would silently measure a different feature
    space than the one ``tfidf_cosine_pairs`` joins on.

    ``repartition_for_window``: the n-gram window stage is
    compute-heavy per shuffle byte and AQE's size-based coalescing
    starves it (same measured pathology as repetition_signals); the
    weights path pins an explicit defaultParallelism repartition that
    the window then reuses (same key).  The stats path skips it (its
    downstream is one distinct + 3-scalar agg)."""
    from pyspark.sql.window import Window

    toks = (
        df.select(
            F.col(id_col).alias("__id"),
            F.posexplode(
                F.split(F.lower(F.trim(F.col(text_col))), " +")
            ).alias("__pos", "__t"),
        )
        .filter(F.col("__t") != "")
    )
    if ngram <= 1:
        return toks.select("__id", "__t")
    if repartition_for_window:
        par = df.sparkSession.sparkContext.defaultParallelism
        toks = toks.repartition(par, "__id")
    wl = Window.partitionBy("__id").orderBy("__pos")
    parts = [F.col("__t")] + [
        F.lead("__t", j).over(wl) for j in range(1, ngram)
    ]
    return (
        toks.withColumn("__g", F.concat_ws(" ", *parts))
        # a NULL lead marks a truncated tail gram: concat_ws skips
        # NULLs, so detect via the last lead instead
        .withColumn("__last", parts[-1])
        .filter(F.col("__last").isNotNull())
        .select("__id", F.col("__g").alias("__t"))
    )


def tfidf_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ngram: int = 1,
) -> DataFrame:
    """Per-(doc, feature) L2-normalized TF-IDF weights:
    ``(id, token, w)`` with ``w = tf * (ln((N+1)/(df+1)) + 1)``
    normalized so each document vector has unit L2 norm, plus the
    feature document frequency ``tok_df`` (the prefix-filter sort
    key).  ``N`` counts documents with >= 1 feature at this grain
    (docs shorter than ``ngram`` tokens contribute nothing, including
    to the IDF).  The per-document norm is accumulated in
    DECIMAL(38,18) so it is order-independent across partitions —
    weight values are engine-reproducible bit-for-bit.  ``ngram`` picks the feature: 1 = word unigrams, n>1 =
    space-joined word n-grams — on tiny-vocabulary/templated corpora
    n-gram features are what keep the downstream prefix filter
    selective (the same reason MinHash shingles at k=3 instead of
    hashing single words).

    Scale shape: one shuffle groups (id, feature) counts out of the
    explode (for n>1 the n-gram assembly is a ``lead`` window on the
    SAME id key, so it adds no extra exchange); feature document
    frequencies come from a feature-grouped count over the (already
    tiny) distinct (id, feature) rows and join back on the feature; N
    is a one-row count (bounded collect).  The per-doc norm is a
    window on the id — document bodies never move, only (id,
    feature-string, weight) triples, and the feature strings here are
    *distinct per doc* (vocabulary-sized, not corpus-sized)."""
    from pyspark.sql.window import Window

    if ngram < 1:
        raise ValueError("ngram must be >= 1")
    toks = _doc_features(df, id_col, text_col, ngram,
                         repartition_for_window=True)
    tf = toks.groupBy("__id", "__t").agg(F.count("*").alias("__tf"))
    # N = docs CONTRIBUTING >= 1 feature (not all input ids): documents
    # with fewer than ``ngram`` tokens (or empty text) produce no
    # features and therefore no vector — counting them into the IDF
    # would shift every weight while leaving those docs unpairable
    # anyway.  This is also the definition a SQL replay derives from
    # the tf relation itself (one-row scalar; bounded collect).
    n_docs = tf.select("__id").distinct().count()
    dfreq = tf.groupBy("__t").agg(F.count("*").alias("__df"))
    w = (
        tf.join(dfreq, "__t")
        .withColumn(
            "__w",
            F.col("__tf").cast("double")
            * (F.log((F.lit(float(n_docs) + 1.0)) /
                     (F.col("__df").cast("double") + F.lit(1.0)))
               + F.lit(1.0)),
        )
    )
    nrm = Window.partitionBy("__id")
    return (
        # DECIMAL accumulation: an unordered double window sum is
        # order-dependent across partitions; decimal sums are exact, so
        # the norm (and every downstream w) is run/engine stable
        w.withColumn(
            "__n",
            F.sqrt(
                F.sum(
                    (F.col("__w") * F.col("__w")).cast("decimal(38,18)")
                ).over(nrm).cast("double")
            ),
        )
        .select(
            F.col("__id").alias(id_col),
            F.col("__t").alias("token"),
            (F.col("__w") / F.col("__n")).alias("w"),
            F.col("__df").alias("tok_df"),
        )
    )


def _grain_df_stats(
    df: DataFrame, id_col: str, text_col: str, ngram: int
) -> tuple[int, int, int]:
    """``(|distinct (doc, feature)|, n_docs, vocab)`` at one feature
    grain — the same tokenize/n-gram assembly ``tfidf_weights`` uses
    (posexplode + ``lead`` window on the id key for n>1), reduced to a
    3-scalar aggregate over the distinct (doc, feature) frame.  Bodies
    never shuffle; the frame is vocabulary-per-doc sized."""
    d = _doc_features(df, id_col, text_col, ngram).distinct()
    row = d.agg(
        F.count("*").alias("pairs"),
        F.countDistinct("__id").alias("n_docs"),
        F.countDistinct("__t").alias("vocab"),
    ).collect()[0]
    return int(row["pairs"]), int(row["n_docs"]), int(row["vocab"])


def tfidf_auto_grain(
    df: DataFrame,
    id_col: str,
    text_col: str,
    auto_df_frac: float = 0.01,
    max_grain: int = 3,
) -> tuple[int, dict]:
    """Measure feature-vocabulary selectivity and pick the TF-IDF
    feature grain for ``tfidf_cosine_pairs(ngram='auto')``.

    The measured quantity per grain is the MEAN feature
    document-frequency fraction ``frac = |distinct (doc, feature)| /
    (V * N)`` — the probability that a random (feature, doc)
    combination co-occurs, i.e. the per-feature collision rate driving
    the prefix join's candidate count (~frac² * N² per feature).  On a
    Heaps'-law corpus vocabulary grows with N so frac stays tiny and
    unigrams prune well; on a fixed-vocabulary / templated corpus frac
    is features-per-doc / V — constant in N — and candidates grow
    quadratically (measured in SCALE.md: 145k → 2.56M candidates for
    21k → 84k docs on a 30k fixed vocab).

    Escalation (VERDICT r6 ask #6): grains are measured in order
    1, 2, …, ``max_grain`` (default 3) and the FIRST whose frac is
    <= ``auto_df_frac`` (default 1%) wins — each step multiplies the
    effective vocabulary by ~|V|, so most corpora stop at 1 or 2 and
    pay one extra tokenize pass at most.  A corpus where even
    ``max_grain`` exceeds the threshold (tiny vocab AND repetitive
    higher-order structure) gets ``grain=max_grain`` plus
    ``stats['recommend_minhash']=True`` — at that density exact cosine
    is intrinsically near-all-pairs and the probabilistic path
    (``minhash_dedup_pairs``, candidate fan-out bounded by banding
    instead of vocabulary) is the right tool; the caller logs the
    recommendation.

    Each measurement is a single 3-scalar aggregate over the distinct
    (doc, feature) frame; returns ``(grain, stats)`` with the measured
    numbers for audit logs (``grains_measured`` keeps every probed
    grain's frac)."""
    measured = []
    grain, frac, n_docs, vocab, pairs = max_grain, 1.0, 0, 0, 0
    for n in range(1, max_grain + 1):
        pairs, n_docs, vocab = _grain_df_stats(df, id_col, text_col, n)
        frac = pairs / (vocab * n_docs) if vocab and n_docs else 0.0
        measured.append({"grain": n, "mean_df_frac": frac,
                         "vocab": vocab, "distinct_doc_features": pairs})
        if frac <= auto_df_frac:
            grain = n
            break
    else:
        grain = max_grain
    stats = {"mean_df_frac": frac, "n_docs": n_docs, "vocab": vocab,
             "distinct_doc_tokens": pairs, "threshold": auto_df_frac,
             "grain": grain, "grains_measured": measured,
             "recommend_minhash": frac > auto_df_frac}
    return grain, stats


def tfidf_cosine_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    ngram: int | str = 1,
    max_bucket_size: int | None = None,
    round_digits: int = 6,
    auto_df_frac: float = 0.01,
) -> DataFrame:
    """Token-weighted near-duplicate pairs: all (id_a < id_b) document
    pairs whose **TF-IDF cosine similarity** is >= ``threshold`` —
    the AllPairs/PPJoin family (Bayardo et al., WWW'07; Xiao et al.,
    WWW'08), completing the dedup matrix alongside MinHash (set
    Jaccard), SimHash (Hamming), and embedding cosine: this one is
    *exact* over sparse lexical vectors, and weights rare tokens the
    way a retrieval stack does.

    Candidate generation is **prefix filtering**, not all-pairs:
    with unit vectors sorted in a fixed global token order (ascending
    document frequency, then token — rarest first), a document's
    *prefix* is the shortest head of its token list such that the L2
    mass of the remaining suffix is < ``threshold``.  By
    Cauchy-Schwarz, a pair sharing no token from (either) prefix has
    cosine <= ||suffix|| < threshold; the FIRST common token in the
    global order therefore lies in BOTH prefixes, so the symmetric
    prefix-to-prefix join generates a **superset of every qualifying
    pair** (recall is exact, not probabilistic).  Rare tokens land in
    prefixes, so prefix postings are short; frequent tokens carry most
    of a templated corpus's bulk and almost never reach a prefix —
    exactly the skew you want in the build side.

    Verification is a candidate-bounded exact dot product: candidate
    pairs join the weight table twice on (id, token) and one grouped
    sum yields the cosine — only candidates pay, never |D|².

    ``max_bucket_size``: optional per-token cap on the *prefix
    posting list* (hot templated tokens), trading recall for a hard
    bound on bucket fan-out — same contract as ``minhash_dedup_pairs``.
    None (default) keeps recall exact.

    ``ngram``: the feature granularity.  Prefix filtering's pruning
    power is proportional to vocabulary size — on a tiny-vocabulary /
    heavily templated corpus, unigram cosine at any threshold is
    intrinsically dense (measured on the synthetic sf0.1 corpus:
    ~500-word vocab, 23-token docs → 11.5M of 12.5M possible pairs
    survive both the prefix AND position filters, so the verify is
    effectively all-pairs).  ``ngram=2`` squares the vocabulary and
    restores selectivity, exactly as MinHash shingles at k=3 rather
    than hashing single words.  Rule of thumb: pick the feature grain
    so the expected feature document-frequency stays SUBLINEAR in the
    corpus size — with a fixed vocabulary the per-pair collision rate
    is constant and candidates grow ~N² (measured: 145k → 619k →
    2.56M candidates for 21k → 42k → 84k docs at unigram on a 30k
    fixed vocab, vs near-linear wall at bigram — SCALE.md).  Real
    corpora grow vocabulary with size (Heaps' law), which keeps
    unigram viable far longer.

    ``ngram='auto'`` measures that rule instead of asking the caller
    to know it: ``tfidf_auto_grain`` computes the mean feature
    document-frequency fraction per grain and escalates 1 → 2 → 3
    until it drops under ``auto_df_frac`` (default 1%), logging the
    measured numbers and the choice at INFO on the
    ``elusion_spark.dedup`` logger.  A templated fixed-vocab corpus
    lands at bigram; a zipf/Heaps corpus stays unigram; a corpus where
    even trigrams stay dense runs at trigram AND logs a WARNING
    recommending ``minhash_dedup_pairs`` instead (exact cosine there
    is intrinsically near-all-pairs at any grain).

    100 TB: every shuffle carries (id, token, double) triples;
    document bodies never leave the scan.  The candidate count is
    sum over tokens of |prefix_t| x |postings_t|, bounded by the
    prefix discipline instead of |D|²; a corpus-wide boilerplate
    token inflates ``tok_df``, which *pushes it out of prefixes* —
    the algorithm is self-correcting for the template-skew case that
    breaks naive token blocking.

    Reference parity note: the reference engine (DataFusion) has no
    similarity-join surface; beyond-parity operator for corpus
    curation."""
    if not (0.0 < threshold <= 1.0):
        raise ValueError("threshold must be in (0, 1]")
    from pyspark.sql.window import Window

    if ngram == "auto":
        import logging

        ngram, stats = tfidf_auto_grain(df, id_col, text_col, auto_df_frac)
        logging.getLogger("elusion_spark.dedup").info(
            "tfidf_cosine_pairs auto grain: ngram=%d "
            "(mean_df_frac=%.5f vs threshold %.5f; vocab=%d, n_docs=%d)",
            ngram, stats["mean_df_frac"], stats["threshold"],
            stats["vocab"], stats["n_docs"],
        )
        if stats.get("recommend_minhash"):
            logging.getLogger("elusion_spark.dedup").warning(
                "tfidf_cosine_pairs auto grain: even %d-grams exceed the "
                "df-frac threshold (%.5f > %.5f) — this corpus's exact "
                "cosine join is intrinsically near-all-pairs at any "
                "grain; prefer minhash_dedup_pairs (banded candidate "
                "fan-out bounded by the LSH plan, not the vocabulary).",
                ngram, stats["mean_df_frac"], stats["threshold"],
            )
    elif not isinstance(ngram, int):
        raise ValueError("ngram must be an int or 'auto'")

    # the weight table feeds THREE consumers (prefix index and both
    # verify sides): cache it for the call (``_checkpointed`` below) so
    # the tokenize+TF-IDF lineage (3 shuffles) runs once — measured
    # 17.7 vs 38.4 s at sf0.1 (SCALE.md).  Feature STRINGS are hashed
    # to 64-bit longs first — no downstream stage needs the text, and
    # the verify joins shuffle (id, long, double) triples instead of
    # ~15-byte n-gram strings (counting/joining by xxhash64 is exact up
    # to ~2^-64 collisions, the same discipline as repetition_signals).
    # (id, feature, w) rows are distinct-per-doc vocabulary-sized — far
    # smaller than the bodies.
    w = (
        tfidf_weights(df, id_col, text_col, ngram=ngram)
        .select(
            id_col,
            F.xxhash64("token").alias("token"),
            "w", "tok_df",
        )
    )
    # Prefix membership: tokens in global order (df asc, then hash —
    # any fixed global order is valid); token i is indexed iff the
    # suffix STARTING AT i still carries >= threshold² of L2 mass (eps
    # guards float drift toward keeping extra tokens — soundness is
    # one-sided).
    ordw = Window.partitionBy(id_col).orderBy("tok_df", "token")
    cum = (
        w.withColumn(
            "__cum",
            F.sum(F.col("w") * F.col("w")).over(
                ordw.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .withColumn(
            "__suffix_sq",
            F.lit(1.0) - F.col("__cum") + F.col("w") * F.col("w"),
        )
    )
    prefix = cum.filter(
        F.col("__suffix_sq") >= F.lit(threshold * threshold - 1e-9)
    ).select(
        F.col(id_col).alias("__pid"), "token",
        # inclusive-suffix L2 mass at this token — the position filter's
        # per-side bound (>= threshold by prefix construction, <= 1)
        F.sqrt(F.greatest(F.col("__suffix_sq"), F.lit(0.0))).alias("__g"),
    )
    prefix = _cap_buckets(prefix, ["token"], "__pid", max_bucket_size)
    # symmetric prefix join (PPJoin): the FIRST common token t* of a
    # qualifying pair (in the global order) must lie in BOTH prefixes —
    # if it were outside a's prefix, every common token would sit in
    # a's suffix and cos <= ||suffix(a)|| < threshold.  Moreover ALL
    # common tokens sit at-or-after t* in both docs, so by
    # Cauchy-Schwarz cos <= ||sfx_incl(a,t*)|| * ||sfx_incl(b,t*)||:
    # the POSITION FILTER ``__g_a * __g_b >= threshold`` holds at t*
    # for every qualifying pair and is applied INLINE in the join
    # (map-side, before the distinct) — on templated corpora it kills
    # the pairs that share only late-prefix boilerplate tokens, which
    # is where candidate counts explode (measured 11.7M -> far fewer
    # at sf0.1 on the synthetic corpus).
    cand = (
        prefix.join(
            prefix.select(F.col("__pid").alias("__fid"), "token",
                          F.col("__g").alias("__g2")),
            "token",
        )
        .filter(
            (F.col("__pid") < F.col("__fid"))
            & (F.col("__g") * F.col("__g2")
               >= F.lit(threshold - 1e-9))
        )
        .select(
            F.col("__pid").alias("__a"),
            F.col("__fid").alias("__b"),
        )
        .distinct()
    )
    wa = w.select(F.col(id_col).alias("__a"), "token",
                  F.col("w").alias("__wa"))
    wb = w.select(F.col(id_col).alias("__b"), "token",
                  F.col("w").alias("__wb"))
    return _checkpointed(
        lambda: cand.join(wa, "__a")
        .join(wb, ["__b", "token"])
        .groupBy("__a", "__b")
        # DECIMAL accumulation for the membership-deciding sum: a
        # grouped double sum is partition-order-dependent, and this one
        # feeds a raw `>= threshold` cut — a boundary-adjacent pair
        # could flip membership across runs/engines.  Each product is
        # deterministic double math; rounding it once to scale 18 and
        # summing exactly makes the cosine (hence membership) stable.
        .agg(
            F.sum(
                (F.col("__wa") * F.col("__wb")).cast("decimal(38,18)")
            ).alias("__dot")
        )
        # build the cut from the threshold's DECIMAL STRING, not the
        # double: casting the double literal rounds it (0.9 ->
        # 0.900000000000000022) while a SQL oracle casting '0.9' gets
        # 0.900000000000000000 exactly — a dot in that ~2e-17 window
        # would flip membership between engines, the very boundary
        # instability the decimal accumulation exists to remove
        .filter(
            F.col("__dot")
            >= F.expr(f"CAST('{float(threshold)!r}' AS DECIMAL(38,18))")
        )
        .select(
            F.col("__a").alias("id_a"),
            F.col("__b").alias("id_b"),
            F.round(F.col("__dot").cast("double"), round_digits)
            .alias("cosine"),
        ),
        w)


# ----------------------------------------------------- LSH band planning

def lsh_plan(
    threshold: float,
    num_hashes: int = 64,
    target_recall: float = 0.95,
) -> dict:
    """Pick MinHash banding ``(bands, rows)`` for a Jaccard threshold:
    evaluates the S-curve ``P(candidate | jaccard=s) = 1 - (1 - s^r)^b``
    for every divisor split of ``num_hashes`` and returns the plan with
    the FEWEST bands (fewest bucket-join shuffle keys, least candidate
    fan-out) whose recall at the threshold still meets
    ``target_recall`` — and, among plans tied on bands, the lowest
    false-positive mass below the threshold.

    Returns ``{bands, rows, recall_at_threshold, fp_at_08_threshold,
    curve}`` where ``curve`` maps jaccard in 0.1 steps to candidate
    probability — print it to see what a (bands, rows) choice actually
    buys.  Pure driver-side math (no Spark): run it BEFORE a 100 TB
    dedup job; a wrong banding either misses near-dups (recall) or
    explodes candidate buckets (precision), and both are expensive to
    discover at scale."""
    if not (0.0 < threshold < 1.0):
        raise ValueError("threshold must be in (0, 1)")
    if not (0.0 < target_recall < 1.0):
        raise ValueError("target_recall must be in (0, 1)")

    def p_cand(s: float, b: int, r: int) -> float:
        return 1.0 - (1.0 - s ** r) ** b

    plans = []
    for r in range(1, num_hashes + 1):
        if num_hashes % r:
            continue
        b = num_hashes // r
        rec = p_cand(threshold, b, r)
        fp = p_cand(0.8 * threshold, b, r)
        plans.append({"bands": b, "rows": r,
                      "recall_at_threshold": rec,
                      "fp_at_08_threshold": fp})
    ok = [p for p in plans if p["recall_at_threshold"] >= target_recall]
    if not ok:  # nothing meets recall: return the best-recall plan
        best = max(plans, key=lambda p: p["recall_at_threshold"])
    else:
        best = min(ok, key=lambda p: (p["bands"], p["fp_at_08_threshold"]))
    best = dict(best)
    best["curve"] = {
        round(s / 10.0, 1): round(
            p_cand(s / 10.0, best["bands"], best["rows"]), 4)
        for s in range(1, 10)
    }
    return best
