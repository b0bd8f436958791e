"""End-to-end training-data preparation pipeline.

Composes the LLM-data operators (text quality → language filter → exact
dedup → MinHash near-dedup with transitive clusters → token accounting)
into the single narrow-to-wide flow a 100 TB corpus job runs.  Every
stage is lazy; the only actions are in near-dup connected components
(one edge collect, or bounded star-contraction rounds on large edge
sets) and whatever the caller triggers.

Shuffle budget of the whole pipeline:
  1. exact-dedup groupBy on content hash (ids only),
  2. LSH band bucket join + pair dedup (ids/hashes only),
  3. none for connected components on the driver union-find; star
     contraction above ``dedup.DRIVER_MAX_EDGES`` shuffles pairs ×
     rounds (pairs ≪ corpus),
  4. the final anti-join of losers against the corpus.
Document bodies cross the wire exactly once (the final write).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators import dedup as D
from .operators import text as TX


def prepare_training_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.5,
    languages: list[str] | None = None,
    min_tokens: int = 5,
    near_dup_threshold: float = 0.7,
    minhash_hashes: int = 64,
    minhash_bands: int = 16,
    minhash_verify: str = "estimate",
    exact_first: bool = True,
    strip_boilerplate: bool = False,
    boilerplate_max_df: int = 2,
    max_xent: float | None = None,
    drop_contained: bool = False,
    containment_threshold: float = 0.9,
    keep: str = "min_id",
) -> DataFrame:
    """Filter + dedup a document table for training.

    Output columns: id, text, lang, quality, n_tokens, n_chars_norm,
    fingerprint.  Near-duplicate clusters are resolved TRANSITIVELY
    (connected components over LSH pairs) — a pairwise keep-one misses
    A~B~C chains where A̸~C.  ``keep='min_id'`` (default) keeps each
    cluster's smallest id; ``keep='best_quality'`` keeps the
    highest-quality member (ties -> smaller id) — near-dups differ in
    boilerplate/truncation, and the copy worth training on is the best
    one, not the first-crawled one.

    ``max_xent`` (optional) adds the CCNet-style perplexity gate: docs
    whose unigram-LM cross-entropy (``text.lm_score``, model fitted on
    the already-filtered corpus) exceeds the bound are dropped — the
    "weird text" filter heuristic quality scores miss.

    ``drop_contained`` (optional) adds the truncation gate
    (``dedup.containment_pairs``): when one document's shingles sit
    inside another's at ``containment_threshold``, the SHORTER side
    (fewer tokens; ties break to the larger id) is dropped — symmetric
    Jaccard cannot see these."""
    src = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    if strip_boilerplate:
        # cross-document paragraph dedup BEFORE scoring: boilerplate
        # inflates quality/length and links unrelated docs in the LSH
        src = TX.remove_boilerplate_paragraphs(
            src, "id", "text", max_doc_frequency=boilerplate_max_df
        )
    base = src.withColumns(
        {
            "lang": TX.language_id("text"),
            "quality": TX.quality_score("text"),
            "n_tokens": TX.token_count("text"),
            "fingerprint": TX.fingerprint("text"),
        }
    )
    filtered = base.filter(
        (F.col("quality") >= min_quality) & (F.col("n_tokens") >= min_tokens)
    )
    if languages:
        filtered = filtered.filter(F.col("lang").isin(languages))

    if exact_first:
        # cheap exact pass first shrinks the LSH input: keep min id per
        # content hash.  ONE window pass (r11) instead of the previous
        # groupBy(md5).agg(min) + left-semi join: the join form put the
        # base lineage (scan + regex quality/lang/token expressions) on
        # BOTH plan branches, so every consumer of `filtered` paid the
        # scoring expressions twice and an extra agg exchange + join
        # (q46 profile: 23 jobs, ~3.6 s of inter-job planning gaps over
        # the doubled lineage).  row_number orderBy id == 1 keeps
        # exactly the min-id row per content hash — the same survivor
        # set — in one exchange, with the base evaluated once.
        from pyspark.sql import Window

        w = Window.partitionBy(F.md5("text")).orderBy("id")
        filtered = (
            filtered.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    if max_xent is not None:
        scored = TX.lm_score(filtered, "id", "text").filter(
            F.col("xent") <= max_xent
        )
        filtered = filtered.join(scored.select("id"), "id", "left_semi")

    if drop_contained:
        cpairs = D.containment_pairs(
            filtered, "id", "text", threshold=containment_threshold
        )
        toks = filtered.select("id", "n_tokens")
        losers = (
            cpairs.join(toks.select(F.col("id").alias("id_a"),
                                    F.col("n_tokens").alias("__ta")), "id_a")
            .join(toks.select(F.col("id").alias("id_b"),
                              F.col("n_tokens").alias("__tb")), "id_b")
            .select(
                F.when(F.col("__ta") < F.col("__tb"), F.col("id_a"))
                .when(F.col("__tb") < F.col("__ta"), F.col("id_b"))
                .otherwise(F.greatest("id_a", "id_b")).alias("id")
            )
            .distinct()
        )
        filtered = filtered.join(losers, "id", "left_anti")

    pairs = D.minhash_dedup_pairs(
        filtered, "id", "text",
        num_hashes=minhash_hashes, bands=minhash_bands,
        threshold=near_dup_threshold, verify=minhash_verify,
    )
    if keep == "best_quality":
        kept = D.dedup_keep_cluster_best(filtered, pairs, "id", "quality")
    elif keep == "min_id":
        kept = D.dedup_keep_cluster_min(filtered, pairs, "id")
    else:
        raise ValueError(f"keep must be min_id/best_quality, got {keep!r}")
    return kept.withColumn(
        "n_chars_norm", F.length(F.regexp_replace("text", r"\s+", " "))
    )


def corpus_stats(corpus: DataFrame) -> dict:
    """One-action summary: docs, tokens, per-language breakdown."""
    row = corpus.agg(
        F.count("*").alias("docs"),
        F.sum("n_tokens").alias("tokens"),
        F.avg("quality").alias("avg_quality"),
    ).first()
    langs = {
        r["lang"]: r["n"]
        for r in corpus.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    return {
        "docs": row["docs"],
        "tokens": row["tokens"],
        "avg_quality": row["avg_quality"],
        "languages": langs,
    }


def write_corpus(corpus: DataFrame, path: str,
                 partition_by: list[str] | None = None,
                 max_records_per_file: int = 1_000_000) -> None:
    """Partitioned parquet write; default layout partitions by language
    (the common training-mix selector) so downstream reads prune."""
    w = corpus.write.mode("overwrite").option(
        "maxRecordsPerFile", max_records_per_file
    )
    w.partitionBy(*(partition_by or ["lang"])).parquet(path)


def _knuth_uniform_hash(id_col: str, salt: int = 0):
    """The engine-wide content-stable hash: ``pmod(id, 2^31) + salt``
    folded through the Knuth multiplicative constant, mod 2^32 — one
    definition shared by every sampling/split/mix operator so "the same
    row makes the same draw" holds ACROSS operators too.  ``pmod``
    keeps negative ids in range (for the non-negative ids the fixtures
    and oracles use, ``pmod(id, m) == id % m``, so the documented ANSI
    form ``(id % 2^31)`` still reproduces it from any engine).

    Id-type contract: numeric ids (and numeric strings) take the
    arithmetic fold above — bit-compatible with every oracle replay to
    date; NON-numeric ids (UUIDs, URLs) fold through
    ``conv(substr(md5(id), 1, 15), 16, 10)`` first — still
    deterministic, partitioning-independent, and ANSI-replayable
    (``('0x' || substr(md5(id), 1, 15))::BIGINT`` in DuckDB).  A blind
    ``CAST(id AS BIGINT)`` NULLed string ids, which made every draw
    NULL and silently EMPTIED hash_sample / collapsed splits — the
    stream_minhash/funnel_stream defect class at the sampling layer."""
    m = 1 << 32
    norm = F.expr(
        f"coalesce(try_cast({id_col} AS BIGINT), "
        f"cast(conv(substr(md5(cast({id_col} AS STRING)), 1, 15), 16, 10) "
        f"AS BIGINT))"
    )
    folded = F.pmod(norm, F.lit(1 << 31)) + F.lit(salt)
    return folded * F.lit(2654435761) % F.lit(m)


def hash_sample(
    df: DataFrame,
    id_col: str,
    rate: float,
    salt: int = 0,
) -> DataFrame:
    """CONTENT-STABLE sampling: keep a row iff a deterministic hash of
    its id falls under ``rate``.  Unlike ``df.sample()`` (seeded per
    partition-split, so membership changes when partitioning or engine
    changes), the same row makes the same in/out decision on every run,
    every engine, and every re-partitioning — the property reproducible
    100 TB pipelines need (re-running a stage must not silently swap the
    sampled subset).

    Knuth multiplicative hash on the id (exactly expressible in ANSI SQL,
    so the decision is auditable from any engine):
    ``(((id mod 2^31) + salt) * 2654435761) mod 2^32 < rate * 2^32``.
    The id is folded to 31 bits FIRST so the product stays inside int64
    on every engine (no overflow wrap/error at 100 TB id ranges; ids
    2^31 apart share a decision — immaterial for sampling).  Pure scan-
    stage filter, no shuffle; composes with partition pruning."""
    cut = int(rate * (1 << 32))
    return df.filter(_knuth_uniform_hash(id_col, salt) < F.lit(cut))


def train_val_test_split(
    df: DataFrame,
    id_col: str,
    weights: dict[str, float] | None = None,
    salt: int = 0,
    split_col: str = "split",
) -> DataFrame:
    """Deterministic multi-way dataset split (train/val/test or any named
    partition mix): the same Knuth multiplicative hash as ``hash_sample``
    maps each id to a point in [0, 2^32), and cumulative weight cuts
    assign the split label.  Properties a 100 TB curation pipeline needs
    and ``df.randomSplit`` does NOT give:

    - *content-stable*: a row's split never changes across runs, engines,
      repartitioning, or adding/removing OTHER rows — eval contamination
      stays impossible as the corpus is re-built incrementally;
    - *exhaustive and disjoint by construction* (a single CASE over one
      hash value);
    - *auditable from any engine*: the decision is plain ANSI arithmetic.

    Pure projection — no shuffle, composes into the scan stage.  Change
    ``salt`` to draw an independent split (e.g. per-epoch held-out sets).
    """
    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    h = _knuth_uniform_hash(id_col, salt)
    case = None
    for name, cut in split_cuts(weights):
        cond = h < F.lit(cut)
        case = F.when(cond, F.lit(name)) if case is None else case.when(
            cond, F.lit(name)
        )
    last = F.lit(list(weights)[-1])
    case = last if case is None else case.otherwise(last)
    return df.withColumn(split_col, case)


def upsample_by_weight(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    salt: int = 0,
    copy_col: str = "copy_idx",
) -> DataFrame:
    """Deterministic fractional up/down-sampling: each row emits
    ``floor(w)`` copies plus one more iff its id-hash falls under
    ``frac(w)`` — so expected multiplicity equals the weight EXACTLY and
    the realized decision is content-stable (same row, same copies, on
    any engine/partitioning/run).  Weights < 1 downsample (0 or 1
    copies), weights > 1 upsample — the single primitive behind
    quality-weighted data mixing (DoReMi-style reweighting, high-quality
    upsampling in LLaMA-class runs) without seeded-RNG irreproducibility.

    Pure narrow map + bounded explode; the ``copy_col`` index
    distinguishes replicas so downstream packing/shuffling can separate
    them."""
    m = 1 << 32
    h = _knuth_uniform_hash(id_col, salt)
    w = F.col(weight_col).cast("double")
    # floor, not a bare bigint cast: Spark's cast truncates but other
    # engines' CAST rounds — floor is the portable spelling of the cut
    extra = (h < F.floor((w - F.floor(w)) * m).cast("bigint")).cast("bigint")
    n = (F.floor(w).cast("bigint") + extra)
    return (
        df.withColumn("__n_copies", n)
        .withColumn(copy_col, F.explode(F.expr(
            "CASE WHEN __n_copies >= 1 THEN sequence(1, __n_copies) "
            "ELSE array() END"
        )))
        .drop("__n_copies")
    )


def stratified_hash_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    rates: dict[str, float],
    salt: int = 0,
) -> DataFrame:
    """Per-stratum CONTENT-STABLE sampling: ``hash_sample`` with a
    different rate per stratum value — the reproducible replacement for
    seeded ``sampleBy`` (whose membership shifts with partitioning).
    Strata absent from ``rates`` are dropped.  Pure scan-stage filter;
    the whole decision is ANSI arithmetic (the oracle IS the spec)."""
    m = 1 << 32
    h = _knuth_uniform_hash(id_col, salt)
    cut = None
    for stratum, rate in rates.items():
        branch = F.when(F.col(strata_col) == stratum,
                        F.lit(int(rate * m)))
        cut = branch if cut is None else cut.when(
            F.col(strata_col) == stratum, F.lit(int(rate * m)))
    cut = cut.otherwise(F.lit(0)) if cut is not None else F.lit(0)
    return df.filter(h < cut)


def temperature_mix_rates(
    token_totals: dict[str, int],
    budget_tokens: int,
    alpha: float = 0.7,
) -> dict[str, float]:
    """Temperature-weighted mix rates (multilingual-LM standard: sample
    stratum i with probability ∝ totalᵢ^alpha, alpha<1 flattens the
    head so low-resource strata survive).  Returns per-stratum KEEP
    RATES for ``stratified_hash_sample`` that hit ``budget_tokens`` in
    expectation; rates are capped at 1 and the residual budget is
    re-spread over the uncapped strata (waterfilling), so small strata
    can't be asked for more tokens than they have."""
    remaining = dict(token_totals)
    budget = float(budget_tokens)
    rates: dict[str, float] = {}
    while remaining and budget > 0:
        weights = {s: t ** alpha for s, t in remaining.items()}
        z = sum(weights.values())
        capped = False
        for s in list(remaining):
            want = budget * weights[s] / z
            if want >= remaining[s]:
                rates[s] = 1.0
                budget -= remaining[s]
                del remaining[s]
                capped = True
        if not capped:
            for s in remaining:
                rates[s] = (budget * weights[s] / z) / remaining[s]
            budget = 0
    for s in token_totals:
        rates.setdefault(s, 0.0)
    return rates


def quality_threshold_sweep(
    df: DataFrame,
    score_col: str,
    thresholds: list[float],
    token_col: str | None = None,
    round_digits: int = 6,
) -> DataFrame:
    """Filter-calibration sweep: for each candidate threshold, how many
    documents (and optionally tokens) survive ``score >= t`` — the table
    a curation run consults before committing to a quality cut (the
    FineWeb/DCLM ablation loop's first question: what does each
    threshold cost in tokens?).

    Scale shape: ONE aggregation pass with |T| conditional sums — a
    single partial→final shuffle carrying one row of counters; the
    per-threshold rows are then unstacked driver-free with ``stack``.
    No explode, no |T|× row multiplication, no second scan."""
    aggs = [F.count("*").cast("bigint").alias("__n")]
    if token_col:
        aggs.append(F.sum(token_col).cast("bigint").alias("__tok"))
    for i, t in enumerate(thresholds):
        cond = F.col(score_col) >= F.lit(float(t))
        aggs.append(
            F.sum(F.when(cond, 1).otherwise(0)).cast("bigint").alias(f"__k{i}")
        )
        if token_col:
            aggs.append(
                F.sum(F.when(cond, F.col(token_col)).otherwise(0))
                .cast("bigint").alias(f"__t{i}")
            )
    row = df.agg(*aggs)
    items = []
    for i, t in enumerate(thresholds):
        cols = [f"CAST({float(t)!r} AS DOUBLE)", f"__k{i}"]
        if token_col:
            cols.append(f"__t{i}")
        items.append(", ".join(cols))
    names = "threshold, kept_docs" + (", kept_tokens" if token_col else "")
    out = row.selectExpr(
        "__n",
        *(["__tok"] if token_col else []),
        f"stack({len(thresholds)}, {', '.join(items)}) AS ({names})",
    ).withColumn(
        "kept_frac",
        F.round(F.col("kept_docs").cast("double")
                / F.col("__n").cast("double"), round_digits),
    )
    if token_col:
        out = out.withColumn(
            "token_frac",
            F.round(F.col("kept_tokens").cast("double")
                    / F.col("__tok").cast("double"), round_digits),
        )
    drop = ["__n"] + (["__tok"] if token_col else [])
    return out.drop(*drop)


def split_cuts(weights: dict[str, float]) -> list[tuple[str, int]]:
    """Cumulative integer hash cuts for all but the last split name (the
    last is the CASE ELSE) — shared by the Column builder and any
    external auditor reproducing the decision in SQL."""
    total = float(sum(weights.values()))
    names = list(weights)
    out, acc = [], 0.0
    for name in names[:-1]:
        acc += weights[name] / total
        out.append((name, int(acc * (1 << 32))))
    return out


def leakage_safe_split(
    df: DataFrame,
    id_col: str,
    weights: dict[str, float] | None = None,
    *,
    text_col: str | None = None,
    cluster_col: str | None = None,
    pairs: DataFrame | None = None,
    salt: int = 0,
    split_col: str = "split",
    key_col: str | None = None,
) -> DataFrame:
    """Cluster-coherent train/val/test split: every member of a
    duplicate cluster lands on the SAME side, so near/exact copies of an
    eval document can never leak into the training set — the
    benchmark-contamination failure mode ``train_val_test_split`` alone
    cannot prevent (it decides per-row, and two copies have two ids).

    Exactly one clustering source:

    - ``text_col``: exact-duplicate families — cluster key is
      ``md5(text)`` (32-byte key, so the one shuffle carries hashes,
      never document bodies; an MD5 collision merges two families,
      which only makes the split MORE conservative).  NULL text rows
      stay singletons.
    - ``pairs``: near-duplicate edges (``minhash_dedup_pairs`` /
      ``simhash_dedup_pairs`` / ``containment_pairs`` output) —
      resolved through ``connected_components``; rows in no pair are
      singletons.
    - ``cluster_col``: a precomputed cluster id column on ``df``.

    The split decision is the engine-wide Knuth hash of the cluster
    REPRESENTATIVE (min member id): content-stable across runs,
    engines, and repartitioning, and auditable from ANSI SQL —
    ``(((min_id % 2^31) + salt) * 2654435761) % 2^32`` against the
    cumulative weight cuts.  Adding new rows to the corpus never flips
    an existing singleton's side; joining an existing cluster adopts
    that cluster's side (it must — coherence is the contract; it can
    only move a row AWAY from the eval set's training half).

    Scale shape: text mode is ONE window shuffle keyed on the md5;
    cluster mode one window on the cluster id; pairs mode the CC
    resolution (pairs ≪ corpus) plus one left join of labels, ids
    only.  ``key_col`` keeps the representative id for audits.
    """
    from pyspark.sql import Window

    if sum(x is not None for x in (text_col, cluster_col, pairs)) != 1:
        raise ValueError(
            "leakage_safe_split needs exactly one of text_col, "
            "cluster_col, pairs"
        )
    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    rep = "__lss_rep"
    if text_col is not None:
        key = F.coalesce(
            F.md5(F.col(text_col).cast("string")),
            # "null-<id>" can never collide with a 32-hex-char md5
            F.concat(F.lit("null-"), F.col(id_col).cast("string")),
        )
        out = df.withColumn(
            rep, F.min(id_col).over(Window.partitionBy(key))
        )
    elif cluster_col is not None:
        out = df.withColumn(
            rep, F.min(id_col).over(Window.partitionBy(cluster_col))
        )
    else:
        cc = D.connected_components(pairs).select(
            F.col("id").alias(id_col), F.col("cluster_id").alias(rep)
        )
        out = df.join(cc, id_col, "left").withColumn(
            rep, F.coalesce(F.col(rep), F.col(id_col).cast("bigint"))
        )
    h = _knuth_uniform_hash(rep, salt)
    case = None
    for name, cut in split_cuts(weights):
        cond = h < F.lit(cut)
        case = F.when(cond, F.lit(name)) if case is None else case.when(
            cond, F.lit(name)
        )
    last = F.lit(list(weights)[-1])
    case = last if case is None else case.otherwise(last)
    out = out.withColumn(split_col, case)
    if key_col is not None:
        return out.withColumnRenamed(rep, key_col)
    return out.drop(rep)


def cap_per_group(
    df: DataFrame,
    group_col: str,
    order_col: str,
    k: int,
) -> DataFrame:
    """Per-group cap (``domain caps``: at most k docs per source/domain,
    deterministic preference by ``order_col``) — row_number over a
    (group, order) window, one shuffle on the group key.  The standard
    CommonCrawl-pipeline guard against a single domain dominating the
    training mix."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(group_col).orderBy(F.col(order_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    seed: int = 42,
) -> DataFrame:
    """Per-stratum Bernoulli sampling (``sampleBy``) — the training-mix
    primitive.  Strata absent from ``fractions`` are dropped."""
    return df.sampleBy(strata_col, fractions, seed)


def sample_to_token_budget(
    corpus: DataFrame,
    budgets: dict[str, int],
    strata_col: str = "lang",
    token_col: str = "n_tokens",
    seed: int = 42,
    id_col: str | None = None,
    deterministic: bool = False,
) -> DataFrame:
    """Sample each stratum down to ~its token budget: one aggregate pass
    computes per-stratum token totals, fractions = min(1, budget/total),
    then a single sampleBy scan.  The driver sees |strata| rows only.

    The standard way to hit a language/domain mix for a training run
    without materializing intermediate copies — two scans total at any
    corpus size.

    ``deterministic=True`` (requires ``id_col``) replaces the Bernoulli
    draw with an EXACT, reproducible prefix: documents are ordered by
    the engine-wide Knuth hash of ``(id, seed)`` within each stratum
    and taken while the running token total stays ≤ the stratum budget
    (the first doc of a stratum is always kept, so a budget below one
    document still yields one).  Same rows on every run, every engine,
    every partitioning — the form to use when a training mix must be
    auditable.  Cost: one window shuffle keyed on the stratum (vs the
    shuffle-free sampleBy scan); strata are the partition keys, so a
    corpus dominated by one language bounds parallelism at that
    stratum — acceptable because the window carries only (id, hash,
    tokens), not document bodies: select ids first, semi-join bodies
    back.  Budgeted strata missing from ``budgets`` are dropped in
    both modes."""
    if deterministic:
        if id_col is None:
            raise ValueError("deterministic=True requires id_col")
        from pyspark.sql import Window

        order = [_knuth_uniform_hash(id_col, salt=seed).asc(),
                 F.col(id_col).asc()]
        w = (
            Window.partitionBy(F.col(strata_col))
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        budget_expr = F.create_map(
            *[x for kv in budgets.items() for x in (F.lit(kv[0]), F.lit(int(kv[1])))]
        )
        cum = F.sum(F.col(token_col).cast("bigint")).over(w)
        kept = (
            corpus.withColumn("__budget", budget_expr[F.col(strata_col)])
            .filter(F.col("__budget").isNotNull())
            .withColumn("__cum", cum)
            .withColumn("__rn", F.row_number().over(
                Window.partitionBy(F.col(strata_col)).orderBy(*order)))
            .filter((F.col("__cum") <= F.col("__budget")) | (F.col("__rn") == 1))
            .drop("__budget", "__cum", "__rn")
        )
        return kept
    totals = {
        r[strata_col]: r["__tok"]
        for r in corpus.groupBy(strata_col)
        .agg(F.sum(token_col).alias("__tok"))
        .collect()
    }
    fractions = {
        stratum: min(1.0, float(budget) / float(totals[stratum]))
        for stratum, budget in budgets.items()
        if totals.get(stratum)
    }
    return corpus.sampleBy(strata_col, fractions, seed)


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_count_col: str,
    seq_len: int,
    shard_col: str | None = None,
    n_shards: int = 64,
) -> DataFrame:
    """Concat-then-chop sequence packing assignment (the standard LLM
    pre-training layout: documents are concatenated in a deterministic
    order and sliced into fixed ``seq_len`` windows).

    Adds per-document placement columns: ``shard``, ``start_token`` (the
    document's offset in its shard's concatenated stream), ``end_token``
    (exclusive), and ``first_seq`` / ``last_seq`` — the range of
    ``seq_len``-sized training sequences the document's tokens land in.
    A document may span sequences (chopped mid-document, as real packing
    does) — callers wanting no-split packing should filter or pre-chunk
    overlong documents first.

    Scale shape: ONE window cumulative sum per shard, documents ordered
    by ``id_col`` within shard — deterministic regardless of input
    partitioning.  Each shard sorts independently, so parallelism =
    ``n_shards`` (size shards so one shard's (id, count) pairs sort
    comfortably in a task — the window carries two longs per doc, not
    text).  With ``shard_col=None`` documents are sharded by
    ``id % n_shards``: stable across engines and runs, and the modulo
    spreads adjacent ids evenly."""
    from pyspark.sql import Window

    shard = (
        F.col(shard_col)
        if shard_col is not None
        else (F.col(id_col) % F.lit(n_shards))
    ).cast("bigint").alias("shard")
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        df.select("*", shard)
        .withColumn(
            "start_token",
            F.coalesce(F.sum(token_count_col).over(w), F.lit(0)).cast("bigint"),
        )
        .withColumn(
            "end_token",
            (F.col("start_token") + F.col(token_count_col)).cast("bigint"),
        )
        .withColumn(
            "first_seq", F.floor(F.col("start_token") / seq_len).cast("bigint")
        )
        .withColumn(
            "last_seq",
            F.floor((F.col("end_token") - 1) / seq_len).cast("bigint"),
        )
    )


def pack_token_ids(
    df,
    ids_col: str = "token_ids",
    seq_len: int = 2048,
    id_col: str = "doc_id",
    eos_id: int | None = None,
    shard_col: str | None = None,
    n_shards: int = 64,
    drop_partial: bool = True,
):
    """MATERIALIZE the training sequences ``pack_sequences`` only
    places (round 10): concatenate every document's token-id array in
    deterministic (shard, id) order and slice the stream into fixed
    ``seq_len`` rows — the literal tensor rows an LLM pre-training
    job reads.  ``eos_id`` (e.g. the tokenizer's ``<|endoftext|>`` id)
    is appended per document first, the standard document separator.

    Returns ``(shard, seq, ids)`` with ``ids: array<bigint>`` of
    exactly ``seq_len`` (``drop_partial=False`` keeps each shard's
    trailing short row).  Deterministic by construction: placement is
    ``pack_sequences``' cumulative window, a document spanning a
    sequence boundary is split by pure Column slice arithmetic, and
    the per-sequence reassembly sorts on the in-sequence offset.

    Scale shape — everything stays JVM-side, 2 shuffles total: the
    per-shard placement window, then ONE exchange keyed on
    (shard, seq) carrying each document's id-array SLICES (a slice
    crosses the wire at most once; a document overlapping k sequences
    sends k disjoint slices, total = its own length).  No driver
    collect, no python in the hot path; parallelism = n_shards on the
    window and = #sequences on the reassembly."""
    from pyspark.sql import functions as F

    if seq_len < 1:
        raise ValueError("seq_len must be >= 1")
    ids = F.col(ids_col).cast("array<bigint>")
    if eos_id is not None:
        ids = F.concat(ids, F.array(F.lit(int(eos_id)).cast("bigint")))
    base = (df.select(F.col(id_col), ids.alias("__ids"))
              .withColumn("__n", F.size("__ids"))
              # F.sequence(first, last) DESCENDS when first > last —
              # the empty-document degenerate (end == start) must not
              # reach the explode
              .filter(F.col("__n") > 0))
    placed = pack_sequences(base, id_col, "__n", seq_len,
                            shard_col=shard_col, n_shards=n_shards)
    seqs = placed.withColumn(
        "seq", F.explode(F.sequence("first_seq", "last_seq")))
    lo = F.greatest(F.col("start_token"), F.col("seq") * seq_len)
    hi = F.least(F.col("end_token"), (F.col("seq") + 1) * seq_len)
    part = seqs.select(
        "shard", "seq",
        (lo % seq_len).alias("__off"),
        F.slice("__ids", (lo - F.col("start_token") + 1).cast("int"),
                (hi - lo).cast("int")).alias("__chunk"))
    packed = part.groupBy("shard", "seq").agg(
        F.flatten(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__off", "__chunk"))),
                lambda s: s["__chunk"],
            )
        ).alias("ids"))
    if drop_partial:
        packed = packed.filter(F.size("ids") == seq_len)
    return packed.select("shard",
                         F.col("seq").cast("bigint").alias("seq"),
                         "ids")


def weighted_sample(
    df,
    id_col: str,
    weight_col: str,
    k: int,
    salt: int = 0,
):
    """Deterministic weighted sampling WITHOUT replacement
    (Efraimidis–Spirakis A-ES): each row draws a content-stable uniform
    ``u`` from the Knuth hash of its id and keeps key ``-ln(u)/w``; the
    ``k`` smallest keys are the sample, with inclusion probability
    proportional to weight — the importance-sampling primitive for
    picking a high-quality subset of a 100 TB corpus.

    Distributed shape: the key is a pure scan-stage expression; top-k by
    key lowers to TakeOrderedAndProject (per-partition heaps, no global
    sort, no shuffle).  Content-stable like ``hash_sample``: the same
    row makes the same draw on every engine, run, and partitioning.

    Weights must be strictly positive (guard with ``greatest(w, eps)``
    upstream).  Rows with a NULL id or NULL/non-positive weight have no
    defined draw and are excluded (a NULL sort key would otherwise sort
    FIRST and silently hijack the sample)."""
    from pyspark.sql import functions as F

    m = 1 << 32
    h = _knuth_uniform_hash(id_col, salt)
    # u in (0, 1]: (h + 1) / 2^32 — never 0, so ln(u) is finite
    u = (h + F.lit(1)).cast("double") / F.lit(float(m))
    key = -F.log(u) / F.col(weight_col).cast("double")
    return (
        df.filter(
            F.col(id_col).isNotNull()
            & (F.col(weight_col).cast("double") > 0)
        )
        .withColumn("__wskey", key)
        .orderBy(F.col("__wskey").asc(), F.col(id_col).asc())
        .limit(k)
    )


def top_k_per_group(
    df: DataFrame,
    keys: list[str],
    order_cols: list[str],
    k: int,
    ascending: bool = False,
    tiebreak_col: str | None = None,
    rank_col: str | None = None,
) -> DataFrame:
    """Top-``k`` rows per group by ``order_cols`` — the per-domain /
    per-language / per-source quality cut every corpus spec contains
    ("best 1000 documents per domain"), and the grouped counterpart of
    the global top-k (which lowers to TakeOrderedAndProject).

    Plan: ``row_number() <= k`` over a ``keys``-partitioned window —
    Spark lowers it to WindowGroupLimit (Partial on the map side,
    Final after the exchange), so each task keeps a bounded k-heap
    per group instead of sorting whole groups; one shuffle keyed by
    ``keys``.  ``tiebreak_col`` (a unique id) makes the cut
    deterministic under score ties; ``rank_col`` optionally emits the
    per-group rank."""
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    order = [
        F.col(c) if ascending else F.col(c).desc() for c in order_cols
    ]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col))
    w = Window.partitionBy(*keys).orderBy(*order)
    out = df.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= int(k)
    )
    if rank_col is not None:
        return out.withColumnRenamed("__rn", rank_col)
    return out.drop("__rn")


def assign_shards(
    df: DataFrame,
    id_col: str,
    n_shards: int,
    salt: int = 0,
) -> DataFrame:
    """Deterministic training-shard assignment: ``shard = knuth(id) %
    n_shards`` and ``pos`` = rank within the shard by ``(knuth(id),
    id)`` — the content-stable shuffle every epoch-reproducible
    training pipeline needs (re-running the job on a re-ingested
    corpus yields the SAME shard layout and order; ``salt`` reseeds
    an epoch).

    Plan: shard id is a scan-stage expression; the position is one
    keys-partitioned window — a single shuffle on the shard id, which
    ``write_training_shards`` then reuses as the write partitioning.
    Adds ``shard`` (int) and ``pos`` (0-based bigint).

    Sizing rule at scale: shard = reducer task = output file, so pick
    ``n_shards`` from the CORPUS size (rows·row_bytes / target file
    size — e.g. a 100 TB corpus at 1 GB shards wants ~100k shards),
    never a small constant; an undersized shard count concentrates the
    per-shard position sort (and the file write) on a handful of
    spilling tasks.  The hash is uniform, so equal-sized shards come
    free."""
    from pyspark.sql import Window

    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    h = _knuth_uniform_hash(id_col, salt)
    w = Window.partitionBy("shard").orderBy("__h", id_col)
    return (
        df.withColumn("__h", h)
        .withColumn("shard", (F.col("__h") % F.lit(int(n_shards))).cast("int"))
        .withColumn("pos", (F.row_number().over(w) - 1).cast("bigint"))
        .drop("__h")
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    id_col: str,
    n_shards: int,
    salt: int = 0,
    order_within_shard: bool = True,
) -> dict:
    """Materialize ``assign_shards`` as exactly one parquet file per
    shard (``shard=<k>/part-*.parquet``), rows laid out in shard
    position order — what a data loader streams sequentially per
    worker.  ONE shuffle total: the ``repartition(n, shard)`` both
    computes the window and becomes the file layout.  Returns
    ``{n_shards, rows}``."""
    assigned = assign_shards(df, id_col, n_shards, salt)
    out = assigned.repartition(int(n_shards), "shard")
    if order_within_shard:
        out = out.sortWithinPartitions("shard", "pos")
    out.write.mode("overwrite").partitionBy("shard").parquet(path)
    spark = df.sparkSession
    rows = spark.read.parquet(path).count()
    return {"n_shards": int(n_shards), "rows": int(rows)}


# ------------------------------------------------- DSIR importance weights

def dsir_importance(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_flag: str | None = None,
    n_buckets: int = 2048,
    ngrams: tuple[int, ...] = (1, 2),
    hash_fn: str = "xxhash64",
    round_digits: int = 9,
    model: DataFrame | None = None,
) -> DataFrame:
    """Per-document DSIR importance log-weights (Xie et al. 2023,
    *Data Selection for Language Models via Importance Resampling*):
    score every raw document by how much more likely it is under a
    hashed n-gram bag-of-words model of the TARGET distribution than
    under the RAW distribution —
    ``logw(d) = sum_b c_b(d) * (ln p_target(b) - ln p_raw(b))``
    with add-one-smoothed bucket probabilities over ``n_buckets``
    hashed unigram/bigram features.  Selecting high-``logw`` documents
    tilts a web-scale corpus toward the target domain (the public
    recipe behind quality-targeted pretraining mixes).

    ``target_flag``: boolean SQL expression over ``df``'s columns
    marking the target-domain exemplars (e.g. ``"source = 'wiki'"``).
    Both models are fit from the SAME featurization pass: one grouped
    conditional aggregation per bucket, so the whole fit is ONE job
    over a vocabulary-sized (``n_buckets``-row) table.  Required only
    when fitting; with a prebuilt ``model`` the flag is ignored (the
    main scoring use case — a raw crawl scored with a model fit
    elsewhere — has no exemplar column at all).

    Determinism / auditability: the per-bucket log-ratio is rounded to
    ``round_digits`` and the per-doc fold accumulates
    ``c_b * ratio`` in DECIMAL(38,12) — the sum is order-free, so
    logw is bit-identical under any partitioning AND replayable by an
    external SQL engine (the q147 oracle does exactly that).

    Scale shape: tokenize+hash once at the explode (``hash_fn='md5'``
    for cross-engine audits, xxhash64 in production); bigrams come
    from one ``lead`` window on the doc id; bucket counts are ONE
    shuffle on (id, bucket); the model is an ``n_buckets``-row
    broadcast; the fold is one grouped sum on the id.  Document
    bodies never shuffle.  Returns ``(id_col, logw DOUBLE)``."""
    def fold(doc_b, ratio):
        return (
            doc_b.join(F.broadcast(ratio), "__b")
            .groupBy("__id")
            .agg(
                F.sum(
                    (F.col("__c").cast("decimal(18,0)")
                     * F.col("__r").cast("decimal(20,12)"))
                    .cast("decimal(38,12)")
                ).cast("double").alias("logw")
            )
            .withColumnRenamed("__id", id_col)
        )

    if model is not None:
        # prebuilt (bucket, ratio) model from dsir_fit: score only.
        # The featurization's __tgt column is unused here, so pass a
        # constant flag — scoring a fresh corpus must not require the
        # fit corpus's exemplar columns to exist.
        return fold(
            _dsir_doc_buckets(df, id_col, text_col, "true", n_buckets,
                              ngrams, hash_fn),
            model.select(F.col("bucket").alias("__b"),
                         F.col("ratio").alias("__r")))
    if target_flag is None:
        raise ValueError(
            "target_flag is required when fitting (model=None)")
    # the featurization feeds THREE readers (the model's two readers —
    # totals scalar and ratio projection — and the scoring join): cache
    # the (id, bucket, count) rows — corpus-vocabulary-sized — for the
    # call, so the tokenize+hash explode runs once (measured 5.2 -> ~2.6
    # s at sf0.1 md5).  The model then re-aggregates from that cache,
    # cheaper than caching it too (SCALE.md).
    doc_b = _dsir_doc_buckets(df, id_col, text_col, target_flag,
                              n_buckets, ngrams, hash_fn)
    return D._checkpointed(
        lambda: fold(doc_b, _dsir_ratio(_dsir_model(doc_b), n_buckets,
                                        round_digits)),
        doc_b)


def _dsir_doc_buckets(df, id_col, text_col, target_flag, n_buckets,
                      ngrams, hash_fn):
    """(id, bucket, count, target?) rows — the shared featurization of
    the fit and score paths.  One (id, bucket) shuffle; the bigram
    assembly is a lead window on the same id key."""
    if not ngrams or any(n not in (1, 2) for n in ngrams):
        raise ValueError("ngrams must be a non-empty subset of (1, 2)")
    from .operators.dedup import _token_hash_sql
    from pyspark.sql import Window

    B = int(n_buckets)
    tok = (
        df.selectExpr(
            f"{id_col} AS __id",
            f"({target_flag}) AS __tgt",
            f"posexplode(split(lower(trim({text_col})), ' +')) AS (__pos, __t)",
        )
        .filter("__t <> ''")
    )
    feats = []
    if 2 in ngrams:
        w = Window.partitionBy("__id").orderBy("__pos")
        tok = tok.withColumn("__t2", F.lead("__t", 1).over(w))
        feats.append(
            F.when(
                F.col("__t2").isNotNull(),
                F.expr(
                    "pmod("
                    + _token_hash_sql("concat(__t, ' ', __t2)", hash_fn)
                    + f", {B})"
                ),
            )
        )
    if 1 in ngrams:
        feats.append(F.expr(f"pmod({_token_hash_sql('__t', hash_fn)}, {B})"))
    grams = tok.select(
        "__id", "__tgt",
        F.explode(F.array_compact(F.array(*feats))).alias("__b"),
    )
    return grams.groupBy("__id", "__b").agg(
        F.count("*").alias("__c"), F.first("__tgt").alias("__tgt")
    )


def _dsir_model(doc_b):
    """The (bucket, target count, raw count) model: <= n_buckets rows
    whatever the corpus size."""
    return doc_b.groupBy("__b").agg(
        F.sum(F.when(F.col("__tgt"), F.col("__c")).otherwise(F.lit(0))
              ).alias("__ct"),
        F.sum("__c").alias("__cr"),
    )


def _dsir_ratio(model, n_buckets, round_digits):
    """(bucket, rounded log-ratio) from the model; runs the one-row
    totals collect, so ``model`` has two readers (the totals and the
    ratio projection)."""
    B = int(n_buckets)
    tot = model.agg(F.sum("__ct").alias("tt"), F.sum("__cr").alias("tr")
                    ).collect()[0]  # one-row scalar
    tt, tr = float(tot["tt"] or 0), float(tot["tr"] or 0)
    return model.select(
        "__b",
        F.round(
            F.log((F.col("__ct").cast("double") + F.lit(1.0))
                  / F.lit(tt + B))
            - F.log((F.col("__cr").cast("double") + F.lit(1.0))
                    / F.lit(tr + B)),
            round_digits,
        ).alias("__r"),
    )


def dsir_fit(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_flag: str,
    n_buckets: int = 2048,
    ngrams: tuple[int, ...] = (1, 2),
    hash_fn: str = "xxhash64",
    round_digits: int = 9,
) -> DataFrame:
    """Fit the DSIR bucket model alone: returns ``(bucket, ratio)`` —
    the per-bucket target/raw log-likelihood ratio (rounded to
    ``round_digits``) that ``dsir_importance(model=...)`` or the
    streaming scorer applies.  Persist it with a plain parquet write;
    it is ``n_buckets`` rows regardless of corpus size."""
    # the featurization has one reader here (the model); the model has
    # two (totals collect + ratio projection), so it is the one cache —
    # without it the aggregation over the uncached featurization runs
    # twice (SCALE.md)
    model = _dsir_model(_dsir_doc_buckets(df, id_col, text_col, target_flag,
                                          n_buckets, ngrams, hash_fn))
    return D._checkpointed(
        lambda: _dsir_ratio(model, n_buckets, round_digits).select(
            F.col("__b").alias("bucket"), F.col("__r").alias("ratio")),
        model)


def dsir_logw_expr(
    model_rows,
    text_col: str,
    n_buckets: int = 2048,
    ngrams: tuple[int, ...] = (1, 2),
    hash_fn: str = "xxhash64",
):
    """Pure-expression DSIR scorer: given the FITTED model as driver
    rows (``[(bucket, ratio), ...]`` — bounded: n_buckets rows), build
    a Column computing the SAME logw as ``dsir_importance`` for the
    document in ``text_col`` — stateless, so it scores a structured
    STREAM row-by-row (no per-doc aggregation state) and matches the
    batch scorer bit-for-bit (the fold accumulates the same
    DECIMAL(38,12) terms; decimal addition is order-free).

    The model rides in the plan as a literal lookup map — fine for
    n_buckets in the thousands; fit with a coarser bucket count if the
    plan gets heavy.  Unknown buckets (never seen at fit time) score
    0, matching the batch join semantics where they cannot appear."""
    if not ngrams or any(n not in (1, 2) for n in ngrams):
        raise ValueError("ngrams must be a non-empty subset of (1, 2)")
    from .operators.dedup import _token_hash_sql

    B = int(n_buckets)
    pairs = []
    for b, r in model_rows:
        pairs.append(f"{int(b)}")
        pairs.append(f"CAST({float(r)!r} AS DECIMAL(20,12))")
    mp = f"map({', '.join(pairs)})" if pairs else "map()"
    toks = f"filter(split(lower(trim({text_col})), ' +'), x -> x <> '')"
    # the token array is bound ONCE as the lambda variable `ts` of a
    # single-element transform (tokenize runs once, not per gram arm)
    arms = []
    if 1 in ngrams:
        arms.append(
            f"transform(ts, t -> pmod({_token_hash_sql('t', hash_fn)}, {B}))"
        )
    if 2 in ngrams:
        arms.append(
            "transform(slice(ts, 1, greatest(size(ts) - 1, 0)), "
            "(t, i) -> pmod("
            + _token_hash_sql("concat(t, ' ', element_at(ts, i + 2))",
                              hash_fn)
            + f", {B}))"
        )
    # the merge lambda must return the accumulator type exactly:
    # decimal '+' widens (38,12)+(20,12) -> (38,11), so cast back
    step = (
        f"CAST(acc + coalesce(element_at({mp}, b), "
        f"CAST(0 AS DECIMAL(20,12))) AS DECIMAL(38,12))"
    )
    agg = (
        f"aggregate(concat({', '.join(arms)}), "
        f"CAST(0 AS DECIMAL(38,12)), (acc, b) -> {step})"
    )
    fold = f"CAST({agg} AS DOUBLE)"
    return F.expr(f"transform(array({toks}), ts -> {fold})[0]")


def dsir_select(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_flag: str,
    k: int,
    n_buckets: int = 2048,
    ngrams: tuple[int, ...] = (1, 2),
    hash_fn: str = "xxhash64",
    seed: int = 0,
    gumbel: bool = True,
) -> DataFrame:
    """DSIR selection: keep ``k`` raw documents by Gumbel-top-k over
    the importance log-weights — equivalent to sampling WITHOUT
    replacement with probability proportional to the importance
    weights (the resampling step of the DSIR paper), but fully
    deterministic: the Gumbel noise ``-ln(-ln(u))`` derives ``u``
    from ``md5(seed || id)``, so the same corpus + seed always picks
    the same documents and an external engine can replay the draw.
    ``gumbel=False`` degrades to plain top-k by ``logw`` (greedy
    selection).  Returns ``(id, logw, key)`` for the selected rows.

    Scale: the selection is a global top-k (TakeOrderedAndProject) on
    an id+two-doubles table — never the corpus itself."""
    lw = dsir_importance(df, id_col, text_col, target_flag,
                         n_buckets=n_buckets, ngrams=ngrams,
                         hash_fn=hash_fn)
    if gumbel:
        u = (
            (F.expr(
                f"pmod(cast(conv(substr(md5(concat('{seed}:', "
                f"cast({id_col} as string))), 1, 15), 16, 10) as bigint), "
                f"1000000000)"
            ).cast("double") + F.lit(0.5)) / F.lit(1e9)
        )
        key = (F.col("logw") - F.log(-F.log(u))).alias("key")
    else:
        key = F.col("logw").alias("key")
    out = lw.select(id_col, "logw", key)
    return out.orderBy(F.desc("key"), F.col(id_col)).limit(int(k))


# -------------------------------------------- contrastive pair mining

def mine_contrastive_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    negatives_per_anchor: int = 3,
    salt: int = 0,
    id_space: int | None = None,
    exact_n: bool = False,
) -> DataFrame:
    """Training pairs for an embedding/reranker model from a document
    corpus: POSITIVES are the near-duplicate pairs the dedup stack
    already mines (``pairs`` = any (id_a, id_b) table — MinHash,
    SimHash, TF-IDF cosine, or embedding near-dups); NEGATIVES are
    ``negatives_per_anchor`` deterministic hash-draws per anchor from
    the whole corpus (the standard random-negative recipe), with
    accidental positives anti-joined away and self-pairs dropped.
    Output: ``(anchor, other, label)`` with label 1/0 — the (query,
    passage, relevance) triple shape retrieval trainers consume.

    Determinism/auditability: negative j for anchor a is the document
    at dense position ``md5int('salt:a:j') % N`` — the same draw on
    every run, any partitioning, and any SQL engine (the q149 oracle
    replays it).  ``id_space``: pass N when ids are already dense
    0..N-1 to skip the indexing step entirely; otherwise a dense index
    is built with a row_number over the distinct ids — an ID-SIZED
    single-partition sort, fine for corpus-catalog scales (ids are
    ~1% of corpus bytes); at 100 TB pass dense ids and skip it.

    Negative-count contract: by default (``exact_n=False``) an anchor
    can receive FEWER than ``negatives_per_anchor`` negatives —
    deterministic, but not exactly N: draw collisions collapse under
    the dedup, and self-pairs / accidental positives are dropped
    without a redraw (~N_draws²/2·corpus_size expected shortfall, i.e.
    rare on real corpora but guaranteed ragged on tiny ones).
    Trainers that assume fixed-size groups should pass
    ``exact_n=True``: the miner over-draws 2x the j values and
    rank-limits (by draw order) to the first ``negatives_per_anchor``
    survivors — still fully deterministic and replayable, and exact-N
    unless more than half of an anchor's draws die (vanishingly
    unlikely beyond toy corpora; the shortfall, if any, is still
    deterministic)."""
    from pyspark.sql import Window

    pos = pairs.select(
        F.col(pairs.columns[0]).alias("anchor"),
        F.col(pairs.columns[1]).alias("other"),
        F.lit(1).alias("label"),
    )
    if id_space is not None:
        n = int(id_space)
        idx = None
    else:
        idx = (
            df.select(F.col(id_col).alias("__nid")).distinct()
            .withColumn(
                "__pos",
                F.row_number().over(Window.orderBy("__nid")) - 1,
            )
        )
        n = idx.count()
    n_draws = int(negatives_per_anchor) * (2 if exact_n else 1)
    draws = (
        pos.select("anchor").distinct()
        .select(
            "anchor",
            F.explode(F.array(*[F.lit(j) for j in range(n_draws)])
                      ).alias("__j"),
        )
        .withColumn(
            "__pos",
            F.expr(
                f"pmod(cast(conv(substr(md5(concat('{int(salt)}:', "
                f"cast(anchor as string), ':', cast(__j as string))), "
                f"1, 15), 16, 10) as bigint), {n})"
            ),
        )
    )
    if idx is not None:
        negs = draws.join(F.broadcast(idx), "__pos").select(
            "anchor", F.col("__nid").alias("other"), "__j")
    else:
        negs = draws.select(
            "anchor", F.col("__pos").cast("bigint").alias("other"), "__j")
    sym = pos.select("anchor", "other").unionByName(
        pos.select(F.col("other").alias("anchor"),
                   F.col("anchor").alias("other")))
    negs = (
        negs.filter(F.col("anchor") != F.col("other"))
        # dedup colliding draws keeping the EARLIEST j (deterministic
        # rank key for the exact_n limit; same pair set as distinct())
        .groupBy("anchor", "other").agg(F.min("__j").alias("__j"))
        .join(sym, ["anchor", "other"], "left_anti")
    )
    if exact_n:
        wnd = Window.partitionBy("anchor").orderBy("__j")
        negs = (
            negs.withColumn("__r", F.row_number().over(wnd))
            .filter(F.col("__r") <= int(negatives_per_anchor))
        )
    negs = negs.select("anchor", "other").withColumn("label", F.lit(0))
    return pos.unionByName(negs)
