"""Structured Streaming capability layer.

The reference's "streaming" is incremental batch iteration over a
DataFusion RecordBatchStream (elusion.rs:8173-8467) — display and chunked
file writing; it has no watermarks, event-time windows, or state (SURVEY
§1.4).  That parity surface is covered by ``sinks.writers.stream_write``.
This module is the capability *upgrade*: real Spark Structured Streaming
re-using the same engine idioms, so a pipeline written on the batch
builder can run incrementally.

Scale notes
-----------
- Watermarks bound state: every windowed/dedup operator here requires
  one, so state stores don't grow unboundedly at 100 TB/day ingest.
- ``availableNow`` triggers give exactly-once batch-of-the-backlog runs
  (the pattern for scheduled incremental jobs); continuous micro-batch is
  the default for live sources.
- The stateful operator uses ``applyInPandasWithState`` — Arrow-batched
  per-group state, the supported custom-operator escape hatch.
"""

from __future__ import annotations

import os
import tempfile
import uuid
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


# ------------------------------------------------------------------ sources

def read_file_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str = "parquet",
    **options,
) -> DataFrame:
    """File-source stream (the bulk-ingest pattern: files land in a
    directory, Spark discovers them incrementally).  Schema is mandatory
    for streaming file sources."""
    reader = spark.readStream.format(fmt).schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


def read_rate_stream(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """Synthetic rate source (testing/demo)."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )


# --------------------------------------------------------------- operators

def _with_event_time(sdf: DataFrame, ts_col: str) -> DataFrame:
    """Watermarks require a TIMESTAMP (LTZ) event-time column; parquet
    schema inference often yields TIMESTAMP_NTZ, on which ``withWatermark``
    raises ``EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE``.  Cast in place when
    needed — the session timezone is pinned to UTC (session.py), so the
    NTZ→LTZ cast preserves wall-clock values exactly."""
    try:
        field = sdf.schema[ts_col]
    except Exception:
        return sdf
    if isinstance(field.dataType, T.TimestampNTZType):
        return sdf.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return sdf


def windowed_agg(
    sdf: DataFrame,
    ts_col: str,
    window_duration: str,
    aggs: dict[str, str],
    keys: list[str] | None = None,
    slide: str | None = None,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Event-time tumbling/sliding window aggregation with a watermark.

    ``aggs`` maps output alias -> SQL aggregate over the stream, e.g.
    ``{"n": "count(*)", "total": "sum(value)"}``.  Late rows beyond
    ``watermark_delay`` are dropped and their windows finalized — this is
    what bounds state size."""
    w = (
        F.window(ts_col, window_duration, slide)
        if slide
        else F.window(ts_col, window_duration)
    )
    grouped = (
        _with_event_time(sdf, ts_col).withWatermark(ts_col, watermark_delay)
        .groupBy(w.alias("window"), *[F.col(k) for k in (keys or [])])
    )
    return grouped.agg(
        *[F.expr(expr).alias(alias) for alias, expr in aggs.items()]
    ).select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        *(keys or []),
        *aggs.keys(),
    )


def session_agg(
    sdf: DataFrame,
    ts_col: str,
    gap: str,
    keys: list[str],
    aggs: dict[str, str],
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Session-window aggregation (dynamic-length windows closed after
    ``gap`` of inactivity per key) — Spark's built-in session_window, no
    custom state needed."""
    grouped = (
        _with_event_time(sdf, ts_col).withWatermark(ts_col, watermark_delay)
        .groupBy(
            F.session_window(F.col(ts_col), gap).alias("session"),
            *[F.col(k) for k in keys],
        )
    )
    return grouped.agg(
        *[F.expr(expr).alias(alias) for alias, expr in aggs.items()]
    ).select(
        F.col("session.start").alias("session_start"),
        F.col("session.end").alias("session_end"),
        *keys,
        *aggs.keys(),
    )


def dedup_stream(
    sdf: DataFrame,
    keys: list[str],
    ts_col: str,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup within the watermark horizon —
    ``dropDuplicatesWithinWatermark`` keeps the state store bounded
    (a plain dropDuplicates on a stream retains keys forever)."""
    return _with_event_time(sdf, ts_col).withWatermark(
        ts_col, watermark_delay
    ).dropDuplicatesWithinWatermark(keys)


def running_totals_stateful(
    sdf: DataFrame,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-key
    running (count, sum) carried across micro-batches.  Demonstrates the
    pattern for operators Spark lacks natively: state is a tiny
    fixed-width tuple per key, input arrives as Arrow batches."""
    out_schema = T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField("n", T.LongType()),
            T.StructField("total", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("n", T.LongType()), T.StructField("total", T.DoubleType())]
    )

    def update(key, pdfs: Iterator["pd.DataFrame"], state: GroupState):  # noqa: F821
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["__v"].sum())
        state.update((n, total))
        yield pd.DataFrame({"key": [key[0]], "n": [n], "total": [total]})

    prepared = sdf.select(
        F.col(key_col).cast("string").alias("__k"), F.col(value_col).alias("__v")
    )
    return prepared.groupBy("__k").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def enrich_stream(
    sdf: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    how: str = "left",
    broadcast_dim: bool = True,
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against the
    (batch) dimension table.  The dim is broadcast by default — the
    standard pattern for decorating a 100 TB/day event stream with
    slowly-changing reference data without shuffling the stream."""
    d = F.broadcast(dim) if broadcast_dim else dim
    return sdf.join(d, on, how)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    left_watermark: str = "10 minutes",
    right_watermark: str = "10 minutes",
    max_lag: str = "15 minutes",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream equi-join with an event-time range
    constraint — the click/impression attribution pattern.

    Both sides carry watermarks and the join condition bounds
    ``right_ts`` to ``[left_ts, left_ts + max_lag]``, so Spark can
    evict buffered state once the watermark passes the bound: state is
    O(key arrival rate × lag window), NOT unbounded.  Outer modes emit
    the unmatched side only after the watermark closes the bound (late
    results by design — standard Structured Streaming semantics).

    100 TB note: this is the ONLY join shape that works on two live
    streams without unbounded buffering; if one side is small/slowly
    changing, prefer ``enrich_stream`` (broadcast stream-static)."""
    lw = (_with_event_time(left, left_ts)
          .withWatermark(left_ts, left_watermark).alias("l"))
    rw = (_with_event_time(right, right_ts)
          .withWatermark(right_ts, right_watermark).alias("r"))
    cond = (
        (F.col(f"l.{on}") == F.col(f"r.{on}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}"))
        & (F.col(f"r.{right_ts}")
           <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {max_lag}"))
    )
    return lw.join(rw, cond, how)


def ingest_corpus_stream(
    sdf: DataFrame,
    corpus_df: DataFrame | None = None,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark_delay: str = "10 minutes",
    min_quality: float | None = None,
    broadcast_history: bool = True,
    keep_fingerprint: bool = False,
) -> DataFrame:
    """Streaming corpus ingestion with dedup against history — the
    incremental form of the batch curation pipeline: documents land as
    files, and the stream emits only documents that are (a) above the
    quality bar, (b) the first copy seen *within* the stream's watermark
    horizon, and (c) not already in the historical corpus.

    Composition (all bounded-state):
    1. content fingerprint (whitespace-normalized md5 — the exact-dedup
       key the batch pipeline uses, so batch and stream agree on what
       "duplicate" means);
    2. optional codegen quality filter (no state);
    3. ``dropDuplicatesWithinWatermark`` on the fingerprint — state is
       bounded by the event-time horizon, not stream length;
    4. stream-static LEFT ANTI join against the history's fingerprint
       projection (ids/hashes only — document bodies never join), which
       broadcasts by default: each micro-batch probes a hash set instead
       of shuffling.

    At 100 TB of history the fingerprint projection itself outgrows a
    broadcast — set ``broadcast_history=False`` to shuffle-join instead,
    or swap the history side for a pre-bucketed table so the anti join
    co-locates.  The stream side only ever carries the current batch."""
    from ..operators.text import fingerprint, quality_score

    s = sdf
    if min_quality is not None:
        s = s.filter(quality_score(text_col) >= min_quality)
    s = s.withColumn("__fp", fingerprint(text_col))
    s = _with_event_time(s, ts_col).withWatermark(ts_col, watermark_delay)
    s = s.dropDuplicatesWithinWatermark(["__fp"])
    if corpus_df is not None:
        hist = corpus_df.select(
            fingerprint(text_col).alias("__fp")
        ).distinct()
        if broadcast_history:
            hist = F.broadcast(hist)
        s = s.join(hist, "__fp", "left_anti")
    return s if keep_fingerprint else s.drop("__fp")


def foreach_batch_upsert(
    sdf: DataFrame,
    target_path: str,
    keys: list[str],
    fmt: str = "parquet",
    checkpoint: str | None = None,
    available_now: bool = True,
):
    """Micro-batch upsert via foreachBatch: each batch anti-joins the
    existing target on ``keys`` then appends — last-write-wins dedup
    against history without a transactional table.  (With delta-spark
    present, prefer MERGE INTO.)  Returns the StreamingQuery.

    The target swap is crash-safe: the new snapshot is fully written to a
    temp dir, the old target is renamed aside (``.__old``), the temp dir
    renamed into place, and only then is the old copy deleted.  At every
    crash point either the target or its ``.__old`` holds a complete
    snapshot; ``_recover`` restores it on the next batch."""
    import os as _os
    import shutil as _shutil

    old_path = target_path + ".__old"

    def _recover() -> None:
        # Crash between rename-aside and rename-into-place leaves the
        # complete previous snapshot at .__old with no target: restore it.
        if _os.path.isdir(old_path):
            if not _os.path.isdir(target_path):
                _os.rename(old_path, target_path)
            else:  # crash after swap, before cleanup: old copy is stale
                _shutil.rmtree(old_path)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        _recover()
        fresh = batch_df.dropDuplicates(keys)
        if _os.path.isdir(target_path) and any(
            not f.startswith("_") for f in _os.listdir(target_path)
        ):
            existing = spark.read.format(fmt).load(target_path)
            keep = existing.join(fresh.select(*keys), keys, "left_anti")
            out = keep.unionByName(fresh)
            tmp = target_path + f".__tmp{batch_id}"
            if _os.path.isdir(tmp):
                _shutil.rmtree(tmp)
            out.write.mode("overwrite").format(fmt).save(tmp)
            _os.rename(target_path, old_path)
            _os.rename(tmp, target_path)
            _shutil.rmtree(old_path)
        else:
            fresh.write.mode("overwrite").format(fmt).save(target_path)

    ckpt = checkpoint or target_path + "_checkpoint"
    w = sdf.writeStream.foreachBatch(_apply).option("checkpointLocation", ckpt)
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


# ------------------------------------------------------------------- sinks

def run_available_now_to_memory(sdf: DataFrame, name: str | None = None,
                                timeout_s: int = 120) -> DataFrame:
    """Process the entire backlog once (availableNow) into a memory sink
    and return the result table.  The test-harness pattern; memory
    sinks are driver-bounded — never for production data volumes."""
    name = name or f"mem_{uuid.uuid4().hex[:8]}"
    spark = sdf.sparkSession
    # ignore_cleanup_errors: the state-store maintenance thread can
    # still be flushing when awaitTermination returns — deleting the
    # checkpoint must not race it into an OSError
    with tempfile.TemporaryDirectory(prefix="es_ckpt_",
                                     ignore_cleanup_errors=True) as ckpt:
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete" if _has_agg(sdf) else "append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout_s)
        q.stop()
    return spark.table(name)


def run_available_now_update_to_memory(sdf: DataFrame, name: str | None = None,
                                       timeout_s: int = 120) -> DataFrame:
    """availableNow → memory sink in *update* mode (required by
    applyInPandasWithState / dropDuplicatesWithinWatermark outputs)."""
    name = name or f"mem_{uuid.uuid4().hex[:8]}"
    spark = sdf.sparkSession
    # ignore_cleanup_errors: the state-store maintenance thread can
    # still be flushing when awaitTermination returns — deleting the
    # checkpoint must not race it into an OSError
    with tempfile.TemporaryDirectory(prefix="es_ckpt_",
                                     ignore_cleanup_errors=True) as ckpt:
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout_s)
        q.stop()
    return spark.table(name)


def start_update_collect(
    sdf: DataFrame, checkpoint: str, trigger_ms: int = 200
):
    """Start a LIVE update-mode query that collects every emitted row
    into a driver-side list; returns ``(query, rows)``.  The caller
    drives it — ``q.processAllAvailable()`` after appending source
    files, ``q.stop()`` when done — and reads ``rows`` afterwards.

    This is the long-stream study harness (the TTL recall study in
    tools/ttl_recall_study.py): a live micro-batch trigger keeps
    running empty batches between data arrivals, which is exactly what
    FIRES processing-time state timers during quiet periods.  An
    availableNow run is the WRONG harness for a TTL stream: with
    ProcessingTimeTimeout the stateful operator always requests
    another batch (Spark's shouldRunAnotherBatch is unconditionally
    true for that timeout conf, so expired timers are never missed),
    and the trigger therefore never self-terminates — it spins empty
    micro-batches until the awaitTermination deadline.

    Driver-bounded (collect per micro-batch) — a test/measurement
    harness, never a production sink."""
    rows: list = []

    def _sink(batch_df: DataFrame, _batch_id: int) -> None:
        rows.extend(batch_df.collect())

    q = (
        sdf.writeStream.foreachBatch(_sink)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime=f"{trigger_ms} milliseconds")
        .start()
    )
    return q, rows


def stream_write_files(
    sdf: DataFrame,
    path: str,
    fmt: str = "parquet",
    checkpoint: str | None = None,
    available_now: bool = True,
    partition_by: list[str] | None = None,
):
    """File-sink stream write (append mode — the only mode file sinks
    support).  Returns the StreamingQuery; caller awaits/stops."""
    ckpt = checkpoint or os.path.join(path, "_checkpoint")
    w = (
        sdf.writeStream.format(fmt)
        .outputMode("append")
        .option("path", path)
        .option("checkpointLocation", ckpt)
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def _has_agg(sdf: DataFrame) -> bool:
    return "Aggregate" in sdf._jdf.queryExecution().analyzed().toString()


def near_dup_candidates_stream(
    sdf: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 16,
    shingle_k: int = 3,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming MinHash-LSH near-duplicate candidate detection — the
    incremental form of ``operators.dedup.minhash_dedup_pairs``: each
    arriving document's band signatures probe per-band state, and any
    band whose bucket already has an earlier document emits a candidate
    pair ``(anchor_id, doc_id, band_idx)``.

    State model (``applyInPandasWithState`` keyed by ``(band_idx,
    band_hash)``): one value per live bucket — the minimum document id
    seen, in the id column's NATIVE ordering (long for integral ids,
    lexicographic string otherwise — the anchor rule only needs a
    deterministic total order). A new document joins its bucket's
    anchor; the anchor itself emits nothing. With ids arriving in increasing order the emitted
    set equals the batch pipeline's star pairs exactly (the parity
    test's construction). Out-of-order arrivals are handled too: when a
    batch brings an id SMALLER than the stored anchor, the anchor moves
    to the new minimum and the displaced old anchor is emitted as a doc
    paired with the new anchor — no pair is ever lost, the star just
    re-roots (connected components downstream are identical either
    way).

    Downstream, verify candidates exactly in ``foreachBatch`` (join
    shingle sets, true Jaccard) and dedup the ``(anchor, doc)`` pairs —
    band-grain emission is intentional so the verifier can weigh
    multi-band collisions.

    100 TB/day notes: state is ~24 B (one id) per live band bucket, NOT per
    document pair; ``state_ttl_ms`` bounds it for unbounded streams —
    a bucket untouched for that long is evicted (processing-time
    timeout; each arrival on a bucket renews it).  Eviction trades
    recall across quiet periods for bounded state, exactly like the
    batch bucket caps trade recall for bounded fan-out: a duplicate
    arriving after its anchor's bucket expired re-seeds the bucket and
    pairs only with later arrivals.  ``None`` (default) keeps state
    forever — right for bounded backfills and the stream==batch parity
    contract.  NOTE: with ``state_ttl_ms`` set, drive the query with a
    live trigger (``processingTime``) — ProcessingTimeTimeout makes the
    stateful operator request a batch every trigger so expired timers
    always fire, which means an ``availableNow`` run never
    self-terminates (it spins empty micro-batches until its
    awaitTermination deadline).  The measured recall cost of eviction
    is tabled in SCALE.md ("streaming TTL recall trade").  The band explode multiplies the stream by ``bands``
    rows of (id, 2 ints) — fixed-width, independent of document size;
    bodies never enter the stateful shuffle.

    CAUTION: the signature expression evaluates interpreted (HOF
    CodegenFallback) and a stream cannot persist the shingle-hash
    intermediate the batch path uses, so the tokenizer re-runs per hash
    member — keep ``num_hashes`` moderate (32 default here vs 64 in
    batch) or pre-compute signatures upstream of this operator."""
    import pandas as pd

    from ..operators.dedup import _band_hashes, _integral_id, _minhash_sign

    band = _band_hashes(num_hashes, bands)
    # Key the state on the NATIVE id type (matching the batch pair
    # operators' ``_id_out``): integral ids stay long,
    # anything else (string/UUID/decimal ids) rides through as string.
    # A blanket cast-to-long NULLs string ids, collapsing every
    # document into one __id=NULL state group (silent garbage pairs).
    # The anchor rule only needs a deterministic total order, which
    # both long `<` and lexicographic string `<` provide.
    _integral = _integral_id(sdf, id_col)
    _id_spark_t = T.LongType() if _integral else T.StringType()
    _id_cast = "long" if _integral else "string"
    _, sigs = _minhash_sign(
        sdf.select(F.col(id_col).cast(_id_cast).alias("__id"),
                   F.col(text_col).alias("__text")),
        num_hashes, shingle_k)
    banded = sigs.select("__id", band)

    out_schema = T.StructType([
        T.StructField("band_idx", T.IntegerType()),
        T.StructField("anchor_id", _id_spark_t),
        T.StructField("doc_id", _id_spark_t),
    ])
    state_schema = T.StructType([T.StructField("min_id", _id_spark_t)])
    _coerce = int if _integral else str

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state_ttl_ms is not None and state.hasTimedOut:
            # quiet bucket: evict the anchor; the next arrival re-seeds
            state.remove()
            return
        ids = []
        for pdf in pdfs:
            ids.extend(_coerce(x) for x in pdf["__id"])
        if not ids:
            return
        cur = min(ids)
        displaced = set()
        if state.exists:
            old = state.get[0]
            anchor = min(cur, old)
            if cur < old:
                # The bucket re-roots on the new minimum; the old anchor
                # must itself be emitted or the pair (new_min, old_anchor)
                # — and transitively old_anchor's whole star — would be
                # disconnected from the new root.
                displaced.add(_coerce(old))
        else:
            anchor = cur
        state.update((anchor,))
        if state_ttl_ms is not None:
            # every arrival renews the bucket's lease
            state.setTimeoutDuration(int(state_ttl_ms))
        out = sorted({i for i in ids if i != anchor} | displaced)
        if out:
            yield pd.DataFrame(
                {
                    "band_idx": [key[0]] * len(out),
                    "anchor_id": [anchor] * len(out),
                    "doc_id": out,
                }
            )

    timeout_conf = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_ttl_ms is not None else GroupStateTimeout.NoTimeout
    )
    return banded.groupBy("band_idx", "band_hash").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=timeout_conf,
    )


def stream_to_rollup(
    sdf: DataFrame,
    store_path: str,
    keys: list[str],
    spec: dict,
    checkpoint: str | None = None,
    available_now: bool = True,
    lg_k: int = 12,
):
    """Maintain a mergeable rollup store from a stream: each micro-batch
    folds its partial aggregates (count/sum/min/max/HLL — see
    ``sinks.maintenance.update_rollup``) into the store via
    ``foreachBatch``.  Metrics over an unbounded stream cost O(batch +
    |keys|) per trigger and the store never rescans history — the
    streaming face of the incremental-rollup pattern.

    Exactly-once: ``foreachBatch`` is at-least-once on retry and the
    monoid folds are not idempotent, so the applied-batch marker rides
    INSIDE the store snapshot (an underscore sidecar file) and commits
    through the same atomic rename as the folded state — marker and
    state can never disagree, and a replayed batch is skipped.  A crash
    anywhere leaves either the old snapshot (batch re-applies) or the
    new one (batch skips); there is no window where the state advanced
    but the marker did not."""
    import json as _json

    from ..sinks.maintenance import read_rollup_sidecar, update_rollup

    marker = "_applied_batches.json"

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        # Batch ids are strictly monotone per checkpoint and foreachBatch
        # replays only the latest uncommitted batch, so the high-water
        # mark alone decides replay-vs-new — the marker stays O(1) for
        # the lifetime of the stream instead of accumulating every id.
        raw = read_rollup_sidecar(store_path, marker)
        if raw:
            parsed = _json.loads(raw)
            # Back-compat: earlier versions stored the full id list.
            high = parsed["max"] if isinstance(parsed, dict) else max(parsed)
        else:
            high = -1
        if batch_id <= high:
            return
        update_rollup(
            batch_df.sparkSession, store_path, batch_df, keys, spec,
            lg_k=lg_k,
            sidecar={marker: _json.dumps({"max": batch_id})},
        )

    ckpt = checkpoint or store_path.rstrip("/") + "_checkpoint"
    w = sdf.writeStream.foreachBatch(_apply).option("checkpointLocation", ckpt)
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def stream_event_rate_anomaly(
    sdf: DataFrame,
    store_path: str,
    type_col: str = "event_type",
    ts_col: str = "ts",
    grain: str = "hour",
    checkpoint: str | None = None,
    available_now: bool = True,
):
    """Streaming face of ``operators.events.event_rate_anomaly``: each
    micro-batch folds its per-(type, bucket) counts into the mergeable
    rollup store (exactly-once via the store's high-water-mark marker),
    and ``score_event_rate_store`` applies the IDENTICAL trailing-window
    z-score the batch operator uses — counts accumulate incrementally at
    O(batch + live buckets) per trigger, scoring reads |buckets| rows,
    and the stream can never drift from the batch math because the
    scoring code is shared, not copied.

    Returns the streaming query handle; call ``score_event_rate_store``
    (any time, any process) for current anomalies."""
    bucketed = sdf.select(
        F.col(type_col).alias("event_type"),
        F.date_trunc(grain, F.col(ts_col)).alias(f"bucket_{grain}"),
    )
    return stream_to_rollup(
        bucketed, store_path,
        ["event_type", f"bucket_{grain}"],
        {"c": ("count", None)},
        checkpoint=checkpoint,
        available_now=available_now,
    )


def score_event_rate_store(
    spark: SparkSession,
    store_path: str,
    grain: str = "hour",
    trailing: int = 24,
    min_history: int = 12,
    round_digits: int = 6,
) -> DataFrame:
    """Score the rollup store ``stream_event_rate_anomaly`` maintains —
    the batch operator's z-math over the incrementally-folded counts."""
    from ..operators.events import score_bucket_anomalies
    from ..sinks.maintenance import read_rollup

    buckets = read_rollup(
        spark, store_path, {"c": ("count", None)}
    ).select(
        "event_type", f"bucket_{grain}", F.col("c").cast("bigint").alias("c")
    )
    return score_bucket_anomalies(
        buckets, grain=grain, trailing=trailing,
        min_history=min_history, round_digits=round_digits,
    )


def funnel_stream(
    sdf: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    max_events_per_user: int = 1000,
) -> DataFrame:
    """Streaming sequenced funnel — the incremental form of
    ``operators.events.funnel``: per-user state tracks every
    funnel-relevant event seen so far, and each micro-batch replays the
    MIN-after-MIN completion chain over the merged history, emitting
    ``(user_id, n_completed)``.

    Keeping the (deduplicated, sorted) event history — not just the
    completion times — is what makes this EXACT under out-of-order
    arrival: a late step-1 event with an earlier timestamp can
    re-qualify step-2 events that were previously ineligible, which a
    completion-times-only state cannot reconstruct.  State is bounded
    by ``max_events_per_user`` funnel-relevant (ts, step) pairs per
    user (~12 B each); past the cap the EARLIEST events win, which
    preserves the chain exactly unless a user's true completion path
    lives entirely beyond the cap.

    Batch parity: per-step conversion counts are
    ``count(n_completed >= i)`` over each user's LAST emission — the
    construction the stream==batch test uses.  Duplicate step names
    (re-entry funnels) need positional bookkeeping the streaming state
    does not carry — rejected explicitly."""
    import pandas as pd

    if len(set(steps)) != len(steps):
        raise ValueError(
            "funnel_stream: duplicate step names are not supported "
            "(use the batch funnel for re-entry funnels)")
    step_idx = {s: i for i, s in enumerate(steps)}
    n_steps = len(steps)
    mapping = F.create_map(
        *[x for s, i in step_idx.items() for x in (F.lit(s), F.lit(i))]
    )
    # the state key is the user id's STRING form: stable for long ids,
    # string ids, and UUIDs alike (a numeric cast would NULL out string
    # ids and merge every such user into one state group — diverging
    # from the batch funnel, which accepts any id type)
    prepared = (
        sdf.filter(F.col(type_col).isin(list(steps)))
        .select(
            F.col(user_col).cast("string").alias("__u"),
            F.unix_micros(F.col(ts_col).cast("timestamp")).alias("__ts"),
            mapping[F.col(type_col)].cast("int").alias("__step"),
        )
    )
    out_schema = T.StructType([
        T.StructField("user_id", T.StringType()),
        T.StructField("n_completed", T.IntegerType()),
    ])
    state_schema = T.StructType([
        T.StructField("ts", T.ArrayType(T.LongType())),
        T.StructField("step", T.ArrayType(T.IntegerType())),
    ])

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        evs: set[tuple[int, int]] = set()
        if state.exists:
            old_ts, old_step = state.get
            evs.update(zip(old_ts, old_step))
        for pdf in pdfs:
            evs.update(
                (int(t), int(s)) for t, s in zip(pdf["__ts"], pdf["__step"])
            )
        ordered = sorted(evs)[: int(max_events_per_user)]
        state.update((
            [t for t, _ in ordered],
            [s for _, s in ordered],
        ))
        prev = None
        n_completed = 0
        for i in range(n_steps):
            cand = [
                t for t, s in ordered
                if s == i and (i == 0 or t >= prev)
            ]
            if not cand:
                break
            prev = min(cand)
            n_completed += 1
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_completed": [n_completed]}
        )

    return prepared.groupBy("__u").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dsir_score_stream(
    sdf: DataFrame,
    model_rows,
    text_col: str = "text",
    n_buckets: int = 2048,
    ngrams: tuple[int, ...] = (1, 2),
    hash_fn: str = "xxhash64",
    out_col: str = "logw",
) -> DataFrame:
    """Score a document STREAM with a prebuilt DSIR model
    (``pipeline.dsir_fit`` collected to driver rows): stateless —
    the whole featurize→fold pipeline is one row-level expression
    (``pipeline.dsir_logw_expr``), so there is no aggregation state,
    any output mode works, and the scores are bit-identical to the
    batch ``dsir_importance(model=...)`` path (same rounded per-bucket
    ratios, same order-free DECIMAL fold).  The model is bounded at
    ``n_buckets`` rows by construction — it rides in the plan, not in
    state.  This is the "filter the firehose toward the target domain
    while it lands" deployment of DSIR."""
    from ..pipeline import dsir_logw_expr

    return sdf.withColumn(
        out_col,
        dsir_logw_expr(model_rows, text_col, n_buckets=n_buckets,
                       ngrams=ngrams, hash_fn=hash_fn),
    )
