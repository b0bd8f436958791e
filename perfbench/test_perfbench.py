"""Fast tests of the benchmark's own arithmetic and parsing (no Spark).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import os

import pytest

import run
from gen import generate
from spans import RssSampler, Span, parse_event_log, self_times, union_length
from workloads import ANALYTICS_PARAMS, CURATION_READS, Analytics, Curation, Request, rowset

HERE = os.path.dirname(os.path.abspath(__file__))


def test_union_length_merges_overlaps_and_gaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert union_length([(5, 6), (0, 10)]) == 10.0


def test_self_time_subtracts_covered_child_intervals():
    spans = [
        Span("request", 0.0, 10.0),
        Span("dataframe", 1.0, 4.0, parent=0),
        Span("dedup", 2.0, 3.0, parent=1),
        Span("action", 3.5, 9.0, parent=0),
        # overlaps its sibling: the parent loses the union, not the sum
        Span("text", 8.0, 9.5, parent=0),
    ]
    assert self_times(spans) == pytest.approx([10 - (9.5 - 1), 2.0, 1.0, 5.5, 1.5])


def test_self_time_clips_children_to_the_parent():
    spans = [Span("request", 0.0, 2.0), Span("action", 1.0, 3.0, parent=0)]
    assert self_times(spans)[0] == pytest.approx(1.0)


def test_event_log_groups_jobs_stages_and_task_metrics():
    with open(os.path.join(HERE, "testdata", "eventlog_sample.jsonl"),
              encoding="utf-8") as f:
        groups = parse_event_log(f)
    a = groups["r3.s1"]
    assert a["intervals"] == [(1000, 1400), (1500, 1600)]
    assert a["run_ms"] == 30 + 5
    assert a["cpu_ns"] == 20_000_000 + 4_000_000
    assert a["shuffle_write_bytes"] == 512
    assert a["spill_bytes"] == 100 + 28
    # a job with no group property is filed under ""
    assert groups[""]["intervals"] == [(2000, 2100)]
    assert groups[""]["run_ms"] == 7


def test_tail_keeps_ten_samples_beyond_and_never_drops_below_median():
    lat = [float(i) for i in range(1, 41)]
    assert run.tail(lat) == (30.0, 75.0, 10)
    few = [3.0, 1.0, 2.0, 5.0, 4.0]
    assert run.tail(few) == (3.0, 60.0, 2)
    # even count: the upper middle sample, never under the median
    assert run.tail([1.0, 2.0, 3.0, 4.0]) == (3.0, 75.0, 1)


def test_rowset_ignores_row_and_column_order():
    a = rowset(["b", "a"], [(1, "x"), (2, "y")])
    b = rowset(["A", "B"], [("y", 2), ("x", 1)])
    assert a == b


def test_check_key_separates_cached_and_refresh_modes():
    assert Request("pivot").check_key == "pivot"
    assert Request("pivot", {"min_disc": 0.0}, cached=True).check_key == "pivot:cached"
    assert Request("extract_refresh", {"mode": "append"}).check_key == \
        "extract_refresh:append"
    hit = Request("pivot", {"min_disc": 0.0}, cached=True)
    hit.cache_hit = True
    assert hit.check_key == "pivot:cached:hit"


def test_peak_memory_is_the_largest_sum_of_one_poll():
    rss = RssSampler()
    rss.record({1: ("python3", 100), 2: ("java", 500)})
    # a worker that has exited no longer counts, however large it was
    rss.record({1: ("python3", 100), 2: ("java", 300), 3: ("python3", 250)})
    rss.record({1: ("python3", 120), 2: ("java", 400)})
    assert rss.peak == 1024 * 650
    assert rss.by_command() == {"python3": 350 / 1024, "java": 300 / 1024}


def test_analytics_plan_is_seeded_with_fixed_cache_repeats_and_refreshes():
    import numpy as np

    wl = Analytics("", {"files": {}}, "")

    def first_rounds(seed, n=3):
        plan = wl.rounds(np.random.default_rng(seed))
        return [[(r.shape, r.params, r.cached) for r in next(plan)] for _ in range(n)]

    assert first_rounds(7) == first_rounds(7)
    assert first_rounds(7) != first_rounds(8)
    rounds = first_rounds(7)
    popular = [(s, p) for s, p, c in rounds[0] if not c and s == "pivot"] * 2
    expected_modes = [["overwrite", "append"], ["overwrite"], ["append"]]
    for rnd, expected in zip(rounds, expected_modes):
        assert sorted((s, p) for s, p, c in rnd if c) == popular
        modes = [p["mode"] for s, p, _ in rnd if s == "extract_refresh"]
        assert modes == expected
    # the three rounds after the first use each parameter value once
    rounds = first_rounds(7, 4)[1:]
    for shape, params in ANALYTICS_PARAMS.items():
        for key, values in params.items():
            used = [p[key] for rnd in rounds for s, p, c in rnd if s == shape and not c]
            assert sorted(used) == sorted(values)


def test_curation_round_runs_ivf_pq_three_times_and_the_rest_once():
    import numpy as np

    plan = Curation("", {"files": {}}, "").rounds(np.random.default_rng(3))
    for _ in range(3):
        shapes = [r.shape for r in next(plan)]
        assert sorted(shapes) == sorted(list(CURATION_READS) + ["q143_ivf_pq_search"] * 2)


@pytest.mark.parametrize("workload", ["analytics", "curation"])
def test_generator_is_byte_identical_per_seed(tmp_path, workload):
    a = generate(workload, 5, str(tmp_path / "a"))
    b = generate(workload, 5, str(tmp_path / "b"))
    c = generate(workload, 6, str(tmp_path / "c"))
    assert a["files"] == b["files"]
    names = sorted(os.listdir(tmp_path / "a"))
    _, mismatch, errors = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", names,
                                           shallow=False)
    assert not mismatch and not errors
    _, mismatch, _ = filecmp.cmpfiles(tmp_path / "a", tmp_path / "c", names,
                                      shallow=False)
    assert mismatch
