#!/usr/bin/env python
"""Headline benchmark: runs the flagship query mix at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Isolation methodology (round 6, VERDICT r5 ask #4): the budget-checked
set runs in FRESH-JVM process groups of ~10 queries.  A single resident
JVM accumulates state over a 55-entry run (C2 compile backlog, GC
pressure, code-cache churn, python worker pools) that was measured
swinging individual entries 10-40% between rounds with unchanged plans
(q82: 2.40 s in-bench vs 1.20 s isolated; q30/q31 +0.3 s vs isolated).
Small fresh-JVM groups bound that contamination to ~10 shapes per
process, which lets the per-query budgets sit at ~1.3x isolated steady
state instead of the 1.5-2.4x headroom round 5 needed.

One child body (_run_block) times every block — the sf0.1 groups, the
sf1 slope block and the floor10x block — from a spec: untimed warm
passes (sf0.1 groups: sf0.001, then the TARGET sf so AQE's real-size
replans compile; sf1: two at sf1; floor10x: one at 10x), then
min-of-N timed passes (3 / 3 / 2).

Each query is forced end-to-end with the noop sink (full computation, no
driver collect, no column-pruning shortcut a bare count() would allow).

Contention guard (rounds 7-8, VERDICT r6 ask #1 / r7 ask #3): every
block times THREE fixed canaries at the start and end of its timed
region — a pure-codegen CPU probe, a 32-task shuffle probe, and a
write+fsync IO probe (round 7's three unexplained incidents were all
disk-writeback interference invisible to the first two).  Every block
then goes through ONE parent-side adjudication (_adjudicate): the
WORST of the three drifts is the block's host factor; the block reruns
once in a fresh child when >= half its budgeted entries violate, when
any entry violates while the canaries drifted (a contended child
slice, not a regression — BENCH_r06's 8 false violations were exactly
this), or, for a block with no budgets (sf1), when the canaries
drifted; every reported violation carries the drift; and per-block
"provenance" (every run's times, drift, violations, rerun reason, and
which numbers were chosen) leaves the artifact fully machine-attributed
with no prose adjudication.  The full result JSON, with a `host` block
(cores, git sha, Spark version, sf), is also dual-written to
BENCH_local.json because stdout captures can tail-truncate long lines.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_QUERIES = [
    "q01_pricing_summary",    # scan + group agg (decimal-exact sums)
    "q03_region_rollup",      # broadcast star join + agg + having
    "q04_segment_monthly",    # join + multi-key group
    "q05_window_rank",        # partitioned window rank
    "q06_running_total",      # running window sum
    "q07_pivot_linestatus",   # 2-phase pivot
    "q10_text_stats",         # text analytics projection
    "q18_cosine_topk",        # brute-force ANN baseline (64-dim)
    "q30_minhash_pairs",      # MinHash-LSH near-dup pipeline
    "q31_simhash_pairs",      # SimHash banding near-dup
    "q32_embedding_near_dup", # hyperplane-LSH embedding dedup
    "q35_media_kinds",        # binary payload sniffing + agg
    "q39_string_functions",   # string-function projection (codegen span)
    "q44_window_frames",      # moving frames / lag / lead / ntile
    "q45_agg_whitelist",      # count-distinct + variance aggregates
    "q51_percentiles",        # exact interpolated percentiles
    "q57_asof_join",          # as-of join (union-tag + window)
    "q59_time_rollup",        # multi-grain rollup in one shuffle
    "q60_sessionize",         # session_window batch sessionization
    "q61_distinct_sketch",    # mergeable HLL distinct
    "q62_skew_join_salted",   # 90%-hot-key join via explicit salting
    "q63_decontamination",    # n-gram overlap vs broadcast eval-set grams
    "q64_repetition_signals", # Gopher repetition metrics (1 explode, 2 shuffles)
    "q65_semantic_dedup",     # SemDeDup: k-means + intra-cluster cosine + CC
    "q72_lm_score",           # unigram-LM cross-entropy (CCNet filter shape)
    "q73_knn_join",           # batched k-NN join (IVF cogroup GEMM, full probe)
    "q74_chunk_documents",    # sliding-window chunking (zero-shuffle expander)
    "q75_threshold_sweep",    # quality-cut calibration (one conditional-sum pass)
    "q76_lm_score_bigram",    # bigram conditional cross-entropy (word order)
    "q77_containment_pairs",  # truncation dedup (inverted index, df-capped)
    "q81_sq8_topk",           # SQ8 quantized ANN (fit + encode + ADC scan)
    "q82_shipping_priority",  # TPC-H Q3 star probe (3-way join + topk)
    "q93_hybrid_search",      # BM25 + dense cosine via reciprocal-rank fusion
    "q101_batched_hybrid",    # |Q|-query hybrid: knn_join + batched BM25 + RRF
    "q103_top_k_per_group",   # per-group quality cut via WindowGroupLimit
    "q106_ohlc_resample",     # OHLC candlesticks in one min_by/max_by agg pass
    "q107_gapfill_linear",    # dense time grid + linear interpolation
    "q113_forecast_revenue",  # TPC-H Q6: pure scan-filter-agg (pushdown probe)
    "q115_market_share",      # TPC-H Q8: 8-way join + conditional ratio
    "q121_waiting_suppliers", # TPC-H Q21: EXISTS + NOT EXISTS quantifier pair
    "q133_leakage_safe_split",# cluster-coherent split (md5 window + Knuth hash)
    "q134_bloom_prejoin",     # Bloom prefilter + exact semi join + agg
    "q135_dedup_repeated_spans", # C4-style span dedup (explode+rank+reassemble)
    "q136_retrieval_metrics", # precision/recall/MRR/nDCG per query
    "q138_token_budget_mix",  # deterministic per-stratum token-budget prefix
    "q140_bpe_encode",        # BPE train (3 merges) + per-task memo encode
    "q141_random_projection", # JL sketch: md5-sign matrix folded into codegen
    "q142_pq_adc_topk",       # PQ: 2x distributed Lloyd + ADC top-k scan
    "q143_ivf_pq_search",     # IVF-PQ: cell probe filter + ADC inside
    "q147_dsir_importance",   # DSIR: hashed-ngram models + decimal logw fold
    "q148_pmi_collocations",  # bigram PMI mining (broadcast unigram joins)
    # q146 (tfidf cosine) is NOT benched at sf0.1: the synthetic corpus
    # is the operator's documented adversarial case (~500-word vocab →
    # 2.77M candidates of 12.5M possible pairs even at bigram, ~33 s
    # dominated by the exact verify) — its performance evidence lives in
    # SCALE.md's rich-corpus section, its correctness gate at sf0.01.
    "q150_minhash_by_lang",   # group-scoped MinHash (per-language dedup)
    "q151_video_near_dup",    # frame-aligned perceptual-hash video dedup
    "q152_pq_refine",         # ADC shortlist + exact rerank (0-shuffle)
    "q153_ivfpq_residual",    # residual-encoded IVF-PQ (per-cell LUTs)
    "q154_gopher_filters",    # Gopher rule family (pure scan projection)
    "q155_pca_whiten",        # folded-matrix whitened PCA projection
    "q156_unigram_encode",    # unigram-LM Viterbi encode (per-task memo)
    "q158_unigram_byte_fallback",  # unigram encode with byte fallback
    "q46_training_corpus",    # end-to-end curation composite (9 stages)
    "q160_hf_import_encode",  # imported HF tokenizer (Metaspace) map encode
    "q162_wordpiece_encode",  # imported BERT-family WordPiece map encode
    "q163_llama3_import_encode",   # Llama-3 Sequence[Split,ByteLevel] encode
    "q164_sentencepiece_lifecycle",  # unigram fit(▁)+export+import+encode
    "q165_special_token_split",    # added-token extraction + codegen hits
    "q166_token_ids",              # piece→id stream (vectorized lookup)
    "q167_decode_roundtrip",       # ByteLevel detokenize reconstruction
    "q168_pack_token_ids",         # materialized fixed-length id rows
    "q169_tokenizer_fertility",    # per-lang fertility/compression report
]

# Per-query wall-time budgets at sf0.1 (seconds, min-of-3 in a fresh
# ~10-query JVM group): 1.3x the WORSE of two full same-day calibration
# runs under this round's group methodology (run-to-run spread between
# fresh-JVM groups is ~±15%, so 1.3x a single run's floor false-alarms)
# — a 30%+ constant-factor slip on any single query still surfaces as a
# "budget_violations" entry the round it happens (VERDICT r4 ask #3,
# re-tightened per VERDICT r5 ask #4 after the resident-JVM noise was
# isolated away; every budget is <=1.5x the observed floor vs round
# 5's 1.5-2.4x headroom).  Tighten alongside real wins; never loosen
# to silence a regression without a SCALE.md note.
BUDGETS_SF01 = {
    "q01_pricing_summary": 1.65, "q03_region_rollup": 0.7,
    "q04_segment_monthly": 0.75, "q05_window_rank": 0.35,
    "q06_running_total": 0.5, "q07_pivot_linestatus": 1.1,
    "q10_text_stats": 0.3, "q18_cosine_topk": 0.5,
    "q30_minhash_pairs": 2.45, "q31_simhash_pairs": 2.0,
    "q32_embedding_near_dup": 1.8, "q35_media_kinds": 0.35,
    "q39_string_functions": 0.3, "q44_window_frames": 0.35,
    "q45_agg_whitelist": 0.6, "q51_percentiles": 1.7,
    "q57_asof_join": 0.85, "q59_time_rollup": 0.6,
    "q60_sessionize": 0.5, "q61_distinct_sketch": 0.3,
    "q62_skew_join_salted": 1.1, "q63_decontamination": 1.4,
    "q64_repetition_signals": 2.05,
    # q65/q140/q46/q147 re-banded r11 (the round's changed queries):
    # 1.3x the worse of two clean same-day final-code runs (58.2/59.5 s
    # totals, zero violations, drift 1.0-1.05; pairs in
    # OPTIMIZATION_r11.md §Bench measurements)
    "q65_semantic_dedup": 1.4,
    "q72_lm_score": 1.05, "q73_knn_join": 3.05,
    "q74_chunk_documents": 0.45, "q75_threshold_sweep": 0.6,
    "q76_lm_score_bigram": 1.7, "q77_containment_pairs": 2.4,
    "q81_sq8_topk": 0.75, "q82_shipping_priority": 1.1,
    "q93_hybrid_search": 2.1, "q101_batched_hybrid": 2.65,
    "q103_top_k_per_group": 0.45, "q106_ohlc_resample": 0.45,
    "q107_gapfill_linear": 0.9, "q113_forecast_revenue": 0.3,
    "q115_market_share": 1.35, "q121_waiting_suppliers": 1.45,
    "q133_leakage_safe_split": 0.6, "q134_bloom_prejoin": 1.9,
    "q135_dedup_repeated_spans": 1.5, "q136_retrieval_metrics": 1.45,
    # q138 re-banded r10 (VERDICT r9 ask #5): 0.55 was 1.45x the 0.378
    # clean floor — below the 1.5-1.7x headroom the group-4
    # re-adjudication endorsed — and tripped on contention in the r9
    # driver run (drift-adjusted 0.539, contention_suspect true).
    # 0.378 x 1.6 = 0.60; SCALE.md r10 note.
    "q138_token_budget_mix": 0.6, "q140_bpe_encode": 1.9,
    "q141_random_projection": 0.75, "q142_pq_adc_topk": 1.25,
    "q143_ivf_pq_search": 1.3, "q147_dsir_importance": 1.6,
    "q148_pmi_collocations": 1.85,
    # group 5 recalibrated round 7: its composition grew to 8 entries
    # when q154-q156 joined; 1.3x the worst of three same-day CLEAN
    # runs (run 1's group-wide 1.5-2x blip with 1.0-drift canaries was
    # fixture-rebuild writeback, reproduced clean twice after)
    "q150_minhash_by_lang": 1.8, "q151_video_near_dup": 2.15,
    "q152_pq_refine": 1.5,
    "q153_ivfpq_residual": 1.6, "q46_training_corpus": 3.7,
    "q154_gopher_filters": 1.4, "q155_pca_whiten": 0.35,
    "q156_unigram_encode": 1.6,
    # round-8 entry: 1.3x the worse of two same-day clean
    # calibration runs
    "q158_unigram_byte_fallback": 1.6,
    # round-9 entries: 1.3x the worse of two same-day CLEAN calibration
    # runs of the final group (q160: 0.662/0.734 at drift <= 1.006;
    # q162: 0.715/0.634 at drift <= 1.087 — a third run at drift 2.27
    # was discarded per the canary rule)
    "q160_hf_import_encode": 0.95,
    "q162_wordpiece_encode": 0.95,
    # round-10 entries: 1.3x the worse of two same-day CLEAN
    # calibration runs of the re-composed 7-entry final group (drifts
    # 1.067 / 1.145): q163 0.688/0.602, q164 1.649/1.577, q165
    # 0.690/0.699.  The group's pre-existing entries re-read inside
    # their budgets under the new composition (q46 3.645/3.397 vs
    # 4.8; q160 0.665/0.680 and q162 0.630/0.579 vs 0.95)
    "q163_llama3_import_encode": 0.9,
    "q164_sentencepiece_lifecycle": 2.15,
    "q165_special_token_split": 0.9,
    # q166-q168 joined the final group (now 10 entries), calibrated on
    # runs at drift 1.059 / 1.209 whose walls agree within noise (a
    # middle run at drift 1.391 was discarded per the canary rule;
    # all 7 pre-existing entries re-read inside their budgets in both
    # kept runs): q166 1.183/1.244, q167 1.037/1.038, q168 0.733/0.657
    "q166_token_ids": 1.65,
    "q167_decode_roundtrip": 1.35,
    "q168_pack_token_ids": 0.95,
    # q169 runs as its own 1-entry group; calibration (1.271 / 1.322)
    # landed on a contended slice (drifts 1.401 / 1.454 — no clean
    # reading available same-day), so 1.3x the worse CONTENDED wall —
    # ratchet down when a clean-drift round records the true floor
    "q169_tokenizer_fertility": 1.7,
    "q01_cache_miss": 1.8, "q01_cache_hit": 0.35,
}

# Standing sf1 slope section (VERDICT r4 ask #8): the 10 headline
# relational shapes re-timed at the 10x fixture (6M lineitem) so every
# round grades SLOPE, not just sf0.1 shape.  The fixture is a
# deterministic key-shift replica (tools/make_scale_fixtures.py) —
# rebuilt on the fly when /tmp gets wiped between rounds.
SF1_QUERIES = [
    "q01_pricing_summary", "q04_segment_monthly", "q05_window_rank",
    "q06_running_total", "q07_pivot_linestatus", "q45_agg_whitelist",
    "q82_shipping_priority", "q113_forecast_revenue",
    "q115_market_share", "q121_waiting_suppliers",
]

# Entries whose sf0.1 wall is dominated by FIXED per-stage scheduling
# cost, not data cost (VERDICT r6 ask #8): at sf0.1 these queries run
# many tiny stages over kilobyte shuffle tables, so their wall measures
# the JVM scheduling floor — their budget-to-floor ratio does NOT
# reflect data cost, and a host-contention blip trips them first.  The
# real scale evidence is the 10x/50x output-bounded curves in SCALE.md
# (q77: SCALE.md "containment" 10x/50x points, root-cause at
# SCALE.md:721; q73/q65: IVF cogroup + SemDeDup sections).  They stay
# in the sf0.1 bench for CORRECTNESS-adjacent drift detection, but a
# violation here is annotated floor_bound so the reader weighs it
# against the canary drift before calling it a regression.
FLOOR_BOUND = {
    "q77_containment_pairs",  # 11 shuffles of KB (hash,id) tables
    "q73_knn_join",           # cogroup GEMM over 5k docs: stage floor
    "q65_semantic_dedup",     # k-means + CC: many vocabulary-sized jobs
    "q46_training_corpus",    # 9-stage composition of the above
}

# The other half of VERDICT r6 ask #8: bench the floor-bound entries
# where data cost actually dominates.  q77 and q46 re-run per round at
# the 10x documents fixture (/tmp/scale10 — rebuilt on the fly like
# sf1): fixed overhead amortizes (measured 3.3 s / 6.1 s vs ~2.5 s
# scheduling floors), so a real data-path regression moves THESE
# numbers even when the sf0.1 wall hides it in the floor.  q73/q65 are
# deliberately excluded: q73 probes EVERY IVF cell by construction
# (exactness-vs-oracle contract) so its 10x cost is quadratic by
# design (measured 81 s — a correctness query, not a throughput
# shape), and q65's 10x wall is dominated by the replica fixture's
# pathological 10-exact-copies density (19 s); both keep their
# SCALE.md curves as the scale evidence.
FLOOR10X_QUERIES = ["q77_containment_pairs", "q46_training_corpus"]
# min-of-2 in a fresh JVM after an untimed 10x pass; 1.3x the worse of
# two same-day calibration runs (same discipline as BUDGETS_SF01)
BUDGETS_FLOOR10X = {
    "q77_containment_pairs": 3.5,   # r8: worse of two runs 2.659 x 1.3
    "q46_training_corpus": 3.8,     # r11 window dedup: worse of two clean runs 2.91 x 1.3
}

GROUP_SIZE = 10
_SENTINEL = "BENCH_CHILD_RESULT:"
TIMED_PASSES = 3

# Contention canary (VERDICT r6 ask #1): a fixed JVM-only computation
# (no file IO, no python workers, no AQE variance) timed at the START
# and END of every group's timed region.  BENCH_r06 reported 8 false
# violations because ONE child process ran on a contended host slice —
# uniformly ~1.7-1.9x slow with bit-identical plans; the canary makes
# that measurable: a group whose canary runs well above CANARY_FLOOR
# was slow for host reasons, not code reasons.  The floor is calibrated
# on idle hardware (10 steady-state runs on this machine: 0.14-0.23 s,
# typical 0.17); drift = mean(start, end)/floor, clamped at 1.0.
CANARY_FLOOR = 0.17
# Shuffle-canary floor (32-task stage pair + one exchange, min-of-2;
# idle fresh-JVM child context 0.29-0.35 s, resident-JVM 0.42-0.48;
# the floor is the child-context typical since that is where it runs).
# This is the probe for the contention class the CPU canary missed
# twice in round 7 — slow groups with 1.0-drift CPU canaries.
SHUFFLE_CANARY_FLOOR = 0.35
# IO canary (VERDICT r7 ask #3): 32 MiB write+fsync on the same ext4
# the Spark local dirs and fixture rebuilds live on.  Three round-7
# incidents were IO-side contention (kworker writeback after the 13 GB
# fixture rebuild; group-wide 1.5-2x slowdowns) that BOTH the CPU and
# shuffle canaries missed (drift 1.0 while queries ran slow) and only
# the rerun guard + prose adjudication recovered.  Floor calibrated to
# the IN-BENCH steady state, not a silent machine: bare-idle runs are
# 0.071-0.082 s, but a normally-running bench keeps its own dirty
# pages in flight (parquet reads, shuffle spill) and the canary's
# min-of-2 brackets sit at 0.08-0.12 s across a clean full run —
# that background is baseline, not contention, so the floor is 0.11
# (group medians of a clean sf0.01 sweep).  A real writeback storm
# (the r7 class: queries 1.5-2x slow) measures >= 2x this floor.
IO_CANARY_FLOOR = 0.11
# A group where at least this fraction of budgeted entries violate is
# re-run once (fresh child process on a hopefully-idle slice) and each
# query keeps the min of both passes — a real regression survives the
# rerun, a contended slice doesn't.  Independently, ANY violation in a
# group whose canaries drifted past RERUN_DRIFT is retried: the drift
# already attributes the slowdown to the host, so the number should be
# re-measured rather than shipped annotated.  A block with no budgets
# (the sf1 slope block) has no violations to weigh, so it reruns once
# on drift alone.
RERUN_FRACTION = 0.5
RERUN_DRIFT = 1.2


def _canary_io_time() -> float:
    """Write + fsync 32 MiB under /tmp (the filesystem Spark's local
    dirs, shuffle spill and the scale fixtures share): the probe for
    write-back/IO contention that is invisible to the CPU canary and
    only weakly visible to the shuffle canary (noop sinks do not
    fsync).  ~0.075 s idle; kworker writeback shows here first."""
    import tempfile

    buf = b"\x5a" * (4 << 20)
    t0 = time.perf_counter()
    fd, path = tempfile.mkstemp(dir="/tmp", prefix="bench_io_canary_")
    try:
        with os.fdopen(fd, "wb") as f:
            for _ in range(8):
                f.write(buf)
            f.flush()
            os.fsync(f.fileno())
    finally:
        os.unlink(path)
    return round(time.perf_counter() - t0, 3)


def _canary_time(spark) -> float:
    """One fixed-size JVM-side pass: hash 25M longs and fold. ~0.2 s on
    idle hardware, pure codegen, zero IO — scales only with host CPU
    availability, which is exactly what it exists to measure."""
    t0 = time.perf_counter()
    spark.range(0, 25_000_000, 1, 8).selectExpr(
        "CAST(xxhash64(id) AS DOUBLE) AS h").groupBy().sum(
        "h").write.format("noop").mode("overwrite").save()
    return round(time.perf_counter() - t0, 3)


def _canary_shuffle_time(spark) -> float:
    """Second canary for the contention class the CPU canary is BLIND
    to (seen twice in round 7: whole groups 1.5-2x slow with 1.0-drift
    CPU canaries, reproduced clean on idle re-runs): a fixed 32-task
    stage pair with one real exchange — task scheduling, shuffle
    write/fetch and disk-adjacent work, i.e. the machinery the actual
    bench queries run on.  ~0.2-0.35 s idle (32 tasks x 2 stages);
    kworker writeback / IO interference shows here first."""
    t0 = time.perf_counter()
    spark.range(0, 8_000_000, 1, 32).selectExpr(
        "pmod(xxhash64(id), 256) AS k", "id AS v").groupBy("k").sum(
        "v").write.format("noop").mode("overwrite").save()
    return round(time.perf_counter() - t0, 3)


# The three block specs.  One child body (_run_block) serves them all;
# each block keeps the warm/timed protocol its budgets and history were
# measured under.  Specs travel to the child as JSON on argv.
WARM_DIR = "/root/testdata/sf0.001"


def _group_spec(queries: list[str], sf_dir: str) -> dict:
    """An sf0.1 group.  Warm on the SMALLEST scale factor first (a
    different data directory, so nothing the timed passes read is
    cached — JIT warmup, not result reuse), then an untimed pass at the
    TARGET sf: AQE replans at real sizes (BHJ/SMJ switches, coalesced
    exchanges), so the sf0.001 warm does not compile the target-sf plan
    shapes.  Min-of-3: on the heavy HOF/LSH shapes (q30/q77) a fresh JVM
    needs ~3 executions past the warm before C2 reaches the steady
    floor; two passes left 0.5-1.2 s of compile tail in the min."""
    return {"queries": queries, "sf_dir": sf_dir,
            "warm_dirs": [WARM_DIR, sf_dir], "passes": TIMED_PASSES,
            "settle": 5, "cache_pair": "q01_pricing_summary" in queries}


# sf1 slope block: TWO untimed warms + min-of-3 (round 8, VERDICT r7
# ask #4): q121's 2.6-7.7 s round-to-round spread was C2 compile tail,
# not AQE — six instrumented same-JVM runs kept bit-identical join
# plans while walls fell 9.1 -> 2.0 s monotonically; one warm + min-of-2
# sampled that curve wherever the compiler happened to be.  Three
# same-day isolated runs spanned 14.7 / 11.3 / 7.5 s with identical
# code, which is why the block is canary-bracketed (SCALE.md r9).
SF1_SPEC = {"queries": SF1_QUERIES, "sf_dir": "/tmp/sf1",
            "warm_dirs": ["/tmp/sf1", "/tmp/sf1"], "passes": 3,
            "settle": 5, "fixture": "/tmp/sf1/lineitem.parquet"}
# floor10x block: one untimed warm at the 10x size + min-of-2, the
# protocol BUDGETS_FLOOR10X are calibrated on.  Canary-bracketed since
# round 10 (VERDICT r9 ask #1): same-code committed runs read
# 1.96/4.27 s while another same-code run read 4.63/8.05 s (its sibling
# sf1 block at drift 1.214), unadjudicatable without the drift
# instrument.
FLOOR10X_SPEC = {"queries": FLOOR10X_QUERIES, "sf_dir": "/tmp/scale10",
                 "warm_dirs": ["/tmp/scale10"], "passes": 2, "settle": 3,
                 "fixture": "/tmp/scale10/documents.parquet"}
# (out key, spec, budgets, note) of the blocks timed after the groups
SCALE_BLOCKS = [
    ("sf1", SF1_SPEC, {},
     "10x key-shift replica of sf0.1 (6M lineitem); slope vs the sf0.1 "
     "queries above; own fresh JVM; 2 untimed warms + min-of-3 timed "
     "(C2 tail, see SCALE.md r8); canary-bracketed since r9 (drift "
     "attributes host contention, SCALE.md r9)"),
    ("floor_bound_10x", FLOOR10X_SPEC, BUDGETS_FLOOR10X,
     "10x documents replica (/tmp/scale10, pathological exact-dup "
     "density); min-of-2, fresh JVM — the data-cost view of the sf0.1 "
     "floor-bound entries; canary-bracketed since r10 (drift attributes "
     "host contention, same instrument as the sf1 block)"),
]


def _run_block(spec: dict) -> dict:
    """Child body for every block, inside THIS fresh process's own
    SparkSession: untimed warm passes over `warm_dirs`, a settle pause,
    the three-canary start bracket, min-of-`passes` timed passes at
    `sf_dir`, the end bracket.  Returns {"times": {name: min_seconds},
    "canary": {...}} (+ "cache_stats" for the cache pair)."""
    from elusion_spark.session import get_spark
    from elusion_spark.suite import QUERIES

    queries, sf_dir = spec["queries"], spec["sf_dir"]
    if spec.get("fixture") and not os.path.exists(spec["fixture"]):
        # the scale fixtures are rebuilt on the fly when /tmp is wiped
        subprocess.run(
            [sys.executable, os.path.join(
                os.path.dirname(os.path.abspath(__file__)),
                "tools", "make_scale_fixtures.py")],
            check=True, capture_output=True, timeout=900,
        )
    spark = get_spark("elusion_spark_bench")

    def _noop(name: str, data_dir: str) -> None:
        QUERIES[name](spark, data_dir).write.format("noop").mode(
            "overwrite").save()

    # warm the JVM (codegen, parquet reader, shuffle machinery, python
    # workers); a query that fails here fails again in the timed passes
    for warm_dir in spec["warm_dirs"]:
        for name in queries:
            try:
                _noop(name, warm_dir)
            except Exception:
                pass
        spark.catalog.clearCache()
    # let the C2 compile backlog drain before timing
    time.sleep(spec["settle"])

    # canary brackets the timed region: warm once, then min-of-2 at
    # start and at end — a contended host slice shows up as drift on
    # at least one bracket for any contention long enough to matter
    probes = {"": lambda: _canary_time(spark),
              "shuffle_": lambda: _canary_shuffle_time(spark),
              "io_": _canary_io_time}
    for probe in probes.values():
        probe()
    canary = {f"{p}start": min(f(), f()) for p, f in probes.items()}
    times: dict[str, float] = {}
    for _pass in range(spec["passes"]):
        for name in queries:
            t0 = time.perf_counter()
            _noop(name, sf_dir)
            el = round(time.perf_counter() - t0, 3)
            if name not in times or el < times[name]:
                times[name] = el
        spark.catalog.clearCache()
    canary.update({f"{p}end": min(f(), f()) for p, f in probes.items()})
    res = {"times": times, "canary": canary}

    if spec.get("cache_pair"):
        # Cache hit-vs-miss pair, mirroring the reference's headline
        # cache claim (BASELINE.md: 6-10x on repeated queries).  The hit
        # run REBUILDS the query from scratch — the canonicalized-plan
        # key, not object identity, is what matches (cashandview.rs
        # semantics).
        from elusion_spark.cache import cache_stats, cached_elusion, clear_cache
        from elusion_spark.dataframe import CustomDataFrame

        def _run_cached() -> float:
            t0 = time.perf_counter()
            cdf = CustomDataFrame(
                QUERIES["q01_pricing_summary"](spark, sf_dir), "bench_c1")
            cached_elusion(cdf, "bench_c1").df.write.format("noop").mode(
                "overwrite").save()
            return round(time.perf_counter() - t0, 3)

        times["q01_cache_miss"] = _run_cached()
        times["q01_cache_hit"] = min(_run_cached(), _run_cached())
        cstats = cache_stats()  # diagnosability: 1 miss + 2 hits expected
        clear_cache()
        res["cache_stats"] = {k: cstats[k] for k in ("hits", "misses")}
    return res


def _spawn(spec: dict, timeout: int = 1800) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--child",
         json.dumps(spec)],
        capture_output=True, text=True, timeout=timeout,
    )
    for line in reversed(proc.stdout.splitlines()):
        if line.startswith(_SENTINEL):
            return json.loads(line[len(_SENTINEL):])
    raise RuntimeError(
        f"bench child failed (rc={proc.returncode}): "
        f"{(proc.stderr or proc.stdout)[-300:]}"
    )


def _group_drift(canary: dict | None) -> float:
    """Host-contention factor for one child process: the WORSE of the
    CPU, shuffle and IO canary drifts (each = mean of its two brackets
    over its idle floor), clamped at 1.0.  Taking the max means a
    group slowed by interference that only ONE probe class can see
    (pure scheduler pressure / shuffle machinery / disk write-back) is
    still adjudicated as host-contended."""
    if not canary:
        return 1.0
    cpu = ((canary["start"] + canary["end"]) / 2) / CANARY_FLOOR
    drifts = [cpu]
    if "shuffle_start" in canary:
        drifts.append(
            ((canary["shuffle_start"] + canary["shuffle_end"]) / 2)
            / SHUFFLE_CANARY_FLOOR)
    if "io_start" in canary:
        drifts.append(
            ((canary["io_start"] + canary["io_end"]) / 2)
            / IO_CANARY_FLOOR)
    return max(1.0, round(max(drifts), 3))


def _over_budget(times: dict[str, float],
                 budgets: dict[str, float]) -> list[str]:
    return sorted(n for n in times if n in budgets and times[n] > budgets[n])


def _should_rerun(group_times: dict[str, float],
                  budgets: dict[str, float] | None = None,
                  fraction: float = RERUN_FRACTION,
                  drift: float = 1.0) -> bool:
    """True when a block's timings look host-caused rather than like a
    single-query regression: either >= `fraction` of its budgeted
    entries are over budget (the BENCH_r06 contended-slice pattern), or
    there is at least one violation AND the canaries drifted past
    RERUN_DRIFT (the canaries have already attributed the slowdown to
    the host, so re-measure instead of shipping an annotated number).
    Drifted canaries with zero violations never rerun — except in a
    block with no budgets at all, where drift is the only evidence.  A
    real regression survives the rerun; a slow host slice doesn't."""
    budgets = BUDGETS_SF01 if budgets is None else budgets
    budgeted = [n for n in group_times if n in budgets]
    viol = _over_budget(group_times, budgets)
    # inclusive: _group_drift ROUNDS to 3 decimals, and the one case
    # this rule exists for landed on exactly 1.200 in the round-10
    # closing run (q101 4.14 s at drift 1.2; the fresh-child rerun
    # read 1.90 s — pure host blip).  A strict > let it ship annotated
    # instead of re-measured.
    if (viol or not budgeted) and drift >= RERUN_DRIFT:
        return True
    if len(budgeted) < 2:
        return False
    return len(viol) >= fraction * len(budgeted)


def _merge_min(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
    return {n: min(a[n], b[n]) if n in b else a[n] for n in a}


def _annotate_violations(times: dict[str, float], drift: float,
                         budgets: dict[str, float] | None = None) -> dict:
    """Budget check with the contention evidence attached: every
    violation carries its block's canary drift, the drift-adjusted
    wall, `contention_suspect` (adjusted time within budget — the
    violation disappears on an idle host), and `floor_bound` (the
    query's sf0.1 wall measures scheduling floor, see FLOOR_BOUND)."""
    budgets = BUDGETS_SF01 if budgets is None else budgets
    out = {}
    for n in _over_budget(times, budgets):
        t = times[n]
        adj = round(t / drift, 3)
        out[n] = {"sec": t, "budget": budgets[n],
                  "canary_drift": drift, "adjusted_sec": adj,
                  "contention_suspect": adj <= budgets[n],
                  "floor_bound": n in FLOOR_BOUND}
    return out


def _adjudicate(name: str, spec: dict, budgets: dict[str, float],
                errors: dict[str, str], rerun: bool = True,
                timeout: int = 1800) -> dict:
    """The one parent-side path every block takes: spawn the child,
    turn its canaries into a drift, rerun once in a fresh child when
    `_should_rerun` says so (each query keeps the min of both runs, the
    block keeps the better-drift run's canaries), record per-run
    provenance (VERDICT r7 ask #3: every number is machine-attributed —
    which run produced it, what the canaries said, what triggered a
    retry — so no prose adjudication note is ever needed), and annotate
    what still violates.  A failed first child raises; a failed rerun
    is recorded in `errors` and the first run stands."""
    res = _spawn(spec, timeout)
    times, canary = res["times"], res["canary"]
    drift = _group_drift(canary)
    runs = [{"run": 1, "drift": drift,
             "violations": _over_budget(times, budgets), "times": times}]
    if rerun and _should_rerun(times, budgets, drift=drift):
        reason = ("canary_drift" if not runs[0]["violations"]
                  else "mass_violation" if _should_rerun(times, budgets)
                  else "violation_with_canary_drift")
        try:
            res2 = _spawn(spec, timeout)
            drift2 = _group_drift(res2["canary"])
            runs.append({"run": 2, "drift": drift2,
                         "violations": _over_budget(res2["times"], budgets),
                         "times": res2["times"], "rerun_reason": reason})
            times = _merge_min(times, res2["times"])
            if drift2 < drift:
                canary, drift = res2["canary"], drift2
            res["cache_stats"] = res2.get("cache_stats")
        except Exception as exc:
            errors[f"{name}_rerun"] = str(exc)[:300]
    blk = {"times": times, "canary": {**canary, "drift": drift},
           "provenance": {"runs": runs,
                          "chosen": ("per_query_min_of_runs"
                                     if len(runs) > 1 else "single_run")},
           "violations": _annotate_violations(times, drift, budgets)}
    if res.get("cache_stats"):
        blk["cache_stats"] = res["cache_stats"]
    return blk


def _host(sf: float) -> dict:
    """The host facts behind a record: cores, Spark's local[N], the
    code's git sha, the Spark version and the scale factor."""
    from pyspark import __version__ as spark_version

    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], capture_output=True, text=True,
            cwd=os.path.dirname(os.path.abspath(__file__)),
            timeout=30).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    return {"nproc": len(os.sched_getaffinity(0)),
            "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
            "git_sha": sha, "spark_version": spark_version, "sf": sf}


def _slim_stdout(out: dict) -> dict:
    """The one-line stdout JSON, reduced to what the driver parses: the
    contract keys (metric/value/unit/queries/sf), violations with their
    drift evidence, cache stats, errors, and the sf1/floor10x blocks'
    queries + violations + drift.  Everything else (per-run provenance,
    canary brackets, methodology prose) is in BENCH_local.json — the
    full record whose size is exactly what tail-truncated BENCH_r09's
    stdout capture into an unparseable line."""
    slim = {"metric": out["metric"], "value": out["value"],
            "unit": out["unit"], "queries": out["queries"],
            "sf": out["sf"]}
    for k in ("cache_stats", "budget_violations", "errors"):
        if k in out:
            slim[k] = out[k]
    for blk in ("sf1", "floor_bound_10x"):
        full = out.get(blk)
        if isinstance(full, dict):
            small = {k: full[k] for k in
                     ("queries", "total", "violations", "error")
                     if k in full}
            drift = (full.get("canary") or {}).get("drift")
            if drift is not None:
                small["drift"] = drift
            slim[blk] = small
    return slim


def main() -> None:
    if len(sys.argv) >= 3 and sys.argv[1] == "--child":
        res = _run_block(json.loads(sys.argv[2]))
        sys.stdout.write("\n" + _SENTINEL + json.dumps(res) + "\n")
        sys.stdout.flush()
        return

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    groups = [BENCH_QUERIES[i:i + GROUP_SIZE]
              for i in range(0, len(BENCH_QUERIES), GROUP_SIZE)]
    times: dict[str, float] = {}
    cstats = None
    errors: dict[str, str] = {}
    violations: dict[str, dict] = {}
    canaries: dict[str, dict] = {}
    provenance: dict[str, dict] = {}
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = -1.0
    # budgets (and so reruns) are calibrated to sf0.1 only
    budget_run = abs(sf - 0.1) < 1e-9

    for gi, grp in enumerate(groups):
        key = f"group_{gi}"
        try:
            blk = _adjudicate(key, _group_spec(grp, sf_dir),
                              BUDGETS_SF01 if budget_run else {}, errors,
                              rerun=budget_run)
        except Exception as exc:  # a dead group must not kill the bench
            errors[key] = str(exc)[:300]
            continue
        times.update(blk["times"])
        canaries[key] = blk["canary"]
        provenance[key] = {"queries": grp, **blk["provenance"]}
        violations.update(blk["violations"])
        cstats = blk.get("cache_stats", cstats)

    out: dict = {
        "metric": "suite_seconds",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "host": _host(sf),
        "methodology": {
            "isolation": "fresh JVM per group", "group_size": GROUP_SIZE,
            "groups": len(groups),
            "per_group": "sf0.001 warm + untimed target-sf pass + "
                         f"min of {TIMED_PASSES} timed passes",
            "contention_guard": (
                "one block runner for the sf0.1 groups, the sf1 block "
                f"({len(SF1_SPEC['warm_dirs'])} untimed warms + min of "
                f"{SF1_SPEC['passes']}) and the floor10x block "
                f"({len(FLOOR10X_SPEC['warm_dirs'])} untimed warm + min "
                f"of {FLOOR10X_SPEC['passes']}): "
                f"25M-xxhash CPU canary (floor {CANARY_FLOOR}s) + "
                f"32-task shuffle canary (floor {SHUFFLE_CANARY_FLOOR}s)"
                f" + 32MiB write-fsync IO canary (floor "
                f"{IO_CANARY_FLOOR}s), each min-of-2 at block "
                "start+end; drift = worst of the three mean/floor "
                "ratios; one rerun rule for every block: a budgeted "
                f"block with >= {int(RERUN_FRACTION * 100)}% budget "
                f"violations, or any violation at drift >= {RERUN_DRIFT},"
                " and a block with no budgets at drift >= "
                f"{RERUN_DRIFT}, reruns once (per-query min of both "
                "runs; full per-run evidence in 'provenance')"),
        },
        "canaries": canaries,
        "provenance": provenance,
    }
    if cstats is not None:
        # expected {hits: 2, misses: 1}: a slow q01_cache_hit with
        # hits==2 is block eviction / process noise, with misses==2 a
        # plan-key instability — tells the next reader WHICH bug to hunt
        out["cache_stats"] = cstats

    if budget_run:
        out["budget_violations"] = violations
        # the sf1 slope block and the floor-bound pair at its 10x
        # fixture (data-cost view), each in its own fresh JVM
        skip_scale = os.environ.get("SPARK_GRAFT_SKIP_SF1") == "1"
        for key, spec, budgets, note in [] if skip_scale else SCALE_BLOCKS:
            try:
                blk = _adjudicate(key, spec, budgets, errors, timeout=2400)
            except Exception as exc:   # fixture build/run failure must
                out[key] = {"error": str(exc)[:200]}  # not kill bench
                continue
            out[key] = {
                "queries": blk["times"],
                "canary": {**blk["canary"], "floor": CANARY_FLOOR,
                           "shuffle_floor": SHUFFLE_CANARY_FLOOR,
                           "io_floor": IO_CANARY_FLOOR},
                "violations": blk["violations"],
                "provenance": blk["provenance"],
                "note": note,
            }

    # Scaling-evident entries (round 11, VERDICT r10 ask #2): the sf0.1
    # headline fixtures are scheduling-floor-bound (0.2-2 s walls), so
    # the driver's low-core instrument read every per-query 8-vs-32-core
    # ratio ≈ 1 and raised `suspect_cpus_ignored` even though
    # SPARK_GRAFT_CPUS is honored (session.py; BENCH_r10_c8's sf1 block
    # runs 16.4 s at 8 cores vs 11.5 s at 32).  Promote the sf1 block's
    # per-query walls into the top-level `queries` map (additive only —
    # prefixed `sf1_`, no existing entry renamed or removed) so the
    # instrument sees entries whose wall actually tracks core count.
    # They carry no sf0.1 budget: they are slope instruments, and the
    # sf1 block's own canary drift adjudicates them.
    if budget_run:
        sf1_q = (out.get("sf1") or {}).get("queries") or {}
        if sf1_q:
            out["sf1"]["total"] = round(sum(sf1_q.values()), 3)
            times.update({f"sf1_{n}": t for n, t in sf1_q.items()})
            out["value"] = round(sum(times.values()), 3)
    if errors:
        out["errors"] = errors

    # dual-write the FULL result next to the repo: the driver's stdout
    # capture is tail-truncated on long lines (BENCH_r06.json lost the
    # head of the queries dict, `parsed: null`) — the file copy is the
    # durable artifact the next round reads
    try:
        with open(os.path.join(
                os.path.dirname(os.path.abspath(__file__)),
                "BENCH_local.json"), "w") as f:
            json.dump(out, f, indent=1)
    except OSError:
        pass
    # stdout gets the SLIM record (round 11, VERDICT r10 ask #1/#3):
    # BENCH_r09's stdout JSON was tail-truncated and unparseable, which
    # blinded PERF_r10 to its prev — the per-run provenance, canary
    # brackets and methodology prose that made the line long live in
    # BENCH_local.json only; stdout keeps the contract keys plus the
    # violation/scaling evidence the driver parses.
    print(json.dumps(_slim_stdout(out)))


if __name__ == "__main__":
    main()
