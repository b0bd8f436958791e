"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  The last line of standard output is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  The line before it is the run's record: host facts,
inputs, the tail percentile and the correctness checks executed.
See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DRIVER_MEMORY = "1g"
TAIL_BEYOND = 10

# Modules whose public functions get a span in traced runs, by layer.
LAYER_MODULES = {
    "dedup": ("elusion_spark.operators.dedup",),
    "text": ("elusion_spark.operators.text",),
    "tokenize": ("elusion_spark.operators.bpe", "elusion_spark.operators.unigram_lm",
                 "elusion_spark.operators.tokenizer_io"),
    "similarity": ("elusion_spark.operators.similarity",),
    "pipeline": ("elusion_spark.pipeline",),
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["analytics", "curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def set_env(work: str) -> None:
    """Everything Spark, the JVM and Python workers write goes under
    ``work``; workers import the checkout's ``elusion_spark``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.update({
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })


def source_digest() -> tuple[str | None, str]:
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                             capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        sha = None
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "elusion_spark")
    for base, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(base, f), "rb") as fh:
                    h.update(f.encode() + b"\0" + fh.read())
    return sha, h.hexdigest()[:16]


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """Latency at the highest percentile with at least TAIL_BEYOND samples
    beyond it, never below the median: (value, percentile, samples beyond)."""
    xs = sorted(latencies)
    k = max(len(xs) - TAIL_BEYOND - 1, len(xs) // 2)
    return xs[k], 100.0 * (k + 1) / len(xs), len(xs) - k - 1


class Runner:
    """Executes requests, times them and keeps one output per check key."""

    def __init__(self, wl, tracer):
        self.wl, self.tracer = wl, tracer
        self.records: list[dict] = []
        self.to_check: dict[str, tuple] = {}
        self.errors = 0

    def execute(self, req):
        from elusion_spark.cache import cache_stats

        from workloads import REFRESH

        wl, tr = self.wl, self.tracer
        if req.shape == REFRESH:
            cols, rows, writes = wl.refresh(req, tr)
            self.records[-1].update(mode=req.params["mode"], writes=writes,
                                    outcome=rows)
            return cols, rows
        with tr.span("dataframe"):
            built = wl.build(req)
            if wl.name != "analytics":
                df = built
            elif req.cached:
                hits = cache_stats()["hits"]
                with tr.span("cache"):
                    df = built.elusion_with_cache(f"cached_{req.shape}").df
                hit = cache_stats()["hits"] > hits
                req.cache_hit = self.records[-1]["cache_hit"] = hit
            else:
                df = built.to_spark()
        with tr.span("action"):
            rows = [tuple(r) for r in df.collect()]
        return df.columns, rows

    def request(self, req, traced: bool) -> None:
        tr = self.tracer
        idx = len(self.records)
        rec = {"shape": req.shape, "cached": req.cached, "check": req.check_key,
               "traced": traced, "rows": self.wl.rows(req), "ok": True}
        self.records.append(rec)
        tr.enabled, tr.request = traced, idx
        first_span = len(tr.spans)
        t0 = time.perf_counter()
        try:
            with tr.span("request"):
                cols, rows = self.execute(req)
        except Exception:  # a failed request counts in error_rate; keep going
            traceback.print_exc(file=sys.stderr)
            rec["ok"] = False
            self.errors += 1
        else:
            self.to_check.setdefault(req.check_key, (req, cols, rows))
        rec["wall"] = time.perf_counter() - t0
        rec["check"] = req.check_key
        if traced:
            rec["counts"] = tr.job_counts(tr.spans[first_span:])
        tr.enabled, tr.request = False, None


def layer_metrics(run: Runner, timed: list[int], extra: dict, event_groups: dict,
                  session_start: float) -> dict:
    """Per-layer metrics from the traced requests of the timed region."""
    from spans import self_times, union_length

    tr, wl = run.tracer, run.wl
    traced = [i for i in timed if run.records[i]["traced"]]
    untraced = [i for i in timed if not run.records[i]["traced"]]
    n = max(1, len(traced))
    selft = self_times(tr.spans)
    by_req: dict[int, list[int]] = {}
    for si, s in enumerate(tr.spans):
        if s.request is not None:
            by_req.setdefault(s.request, []).append(si)

    def layer_self(layer: str) -> float:
        return sum(selft[si] for i in traced for si in by_req.get(i, [])
                   if tr.spans[si].layer == layer) / n

    def subtree(si: int) -> list[int]:
        out, todo = [], [si]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(c for c in by_req[tr.spans[si].request]
                        if tr.spans[c].parent == cur)
        return out

    build, build_jobs, counts = 0.0, 0, {"jobs": 0, "stages": 0, "tasks": 0}
    in_jobs = outside = run_s = cpu_s = shuffle = spill = 0.0
    for i in traced:
        spans = [tr.spans[si] for si in by_req.get(i, [])]
        for k, v in run.records[i].get("counts", {}).items():
            counts[k] += v
        for si in by_req.get(i, []):
            if tr.spans[si].layer == "dataframe" and (
                    tr.spans[si].parent is None
                    or tr.spans[tr.spans[si].parent].layer == "request"):
                build += tr.spans[si].end - tr.spans[si].start
                build_jobs += sum(len(tr.spans[c].jobs) for c in subtree(si))
        groups = [event_groups.get(s.group) for s in spans]
        groups = [g for g in groups if g]
        inside = union_length([iv for g in groups for iv in g["intervals"]]) / 1000.0
        in_jobs += inside
        outside += max(0.0, run.records[i]["wall"] - inside)
        run_s += sum(g["run_ms"] for g in groups) / 1000.0
        cpu_s += sum(g["cpu_ns"] for g in groups) / 1e9
        shuffle += sum(g["shuffle_write_bytes"] for g in groups)
        spill += sum(g["spill_bytes"] for g in groups)

    # Over the whole run: a repeat misses only the first time, in the first
    # pass, so the timed region alone would never show a miss.
    cached = [r for r in run.records if r.get("cached")]
    hits = [r["wall"] for r in cached if r.get("cache_hit")]
    misses = [r["wall"] for r in cached if not r.get("cache_hit")]

    diffs = []
    for key in sorted({run.records[i]["check"] for i in timed}):
        a = [run.records[i]["wall"] for i in traced if run.records[i]["check"] == key]
        b = [run.records[i]["wall"] for i in untraced if run.records[i]["check"] == key]
        if a and b:
            diffs.append(_mean(a) - _mean(b))

    refreshes = [run.records[i] for i in traced if "writes" in run.records[i]]
    writes = [w for r in refreshes for w in r["writes"]]
    per_refresh = max(1, len(refreshes))
    sinks_bytes = sum(w[1] for w in writes) / per_refresh
    mode_s = {"overwrite": [], "append": []}
    for i in traced:
        if "mode" in run.records[i]:
            mode_s[run.records[i]["mode"]].append(
                sum(selft[si] for si in by_req.get(i, [])
                    if tr.spans[si].layer == "sinks"))
    source_bytes = getattr(wl, "source_bytes", 0)
    return {
        "session.start_s": session_start,
        "dataframe.build_s": build / n,
        "dataframe.build_jobs": build_jobs / n,
        "spark.jobs": counts["jobs"] / n,
        "spark.stages": counts["stages"] / n,
        "spark.tasks": counts["tasks"] / n,
        "spark.in_jobs_s": in_jobs / n,
        "spark.outside_jobs_s": outside / n,
        "spark.executor_run_s": run_s / n,
        "spark.executor_cpu_s": cpu_s / n,
        "spark.python_gap_s": max(0.0, run_s - cpu_s) / n,
        "spark.shuffle_write_bytes": shuffle / n,
        "spark.spill_bytes": spill / n,
        "cache.hits": float(len(hits)),
        "cache.misses": float(len(misses)),
        "cache.hit_ratio": len(hits) / len(cached) if cached else 0.0,
        "cache.hit_s": _mean(hits),
        "cache.miss_s": _mean(misses),
        "sources.load_s": layer_self("sources"),
        "sources.rows_loaded": extra.get("rows_loaded", 0.0),
        "sinks.overwrite_s": _mean(mode_s["overwrite"]),
        "sinks.append_s": _mean(mode_s["append"]),
        "sinks.bytes_written": sinks_bytes,
        "sinks.files_written": sum(w[0] for w in writes) / per_refresh,
        "sinks.write_amplification": sinks_bytes / source_bytes if source_bytes else 0.0,
        "pipeline.prepare_s": layer_self("pipeline"),
        "dedup.call_s": layer_self("dedup"),
        "dedup.candidate_pairs": extra.get("candidate_pairs", 0.0),
        "dedup.confirmed_ratio": extra.get("confirmed_ratio", 0.0),
        "text.call_s": layer_self("text"),
        "tokenize.call_s": layer_self("tokenize"),
        "tokenize.tokens_per_s": extra.get("tokens_per_s", 0.0),
        "similarity.call_s": layer_self("similarity"),
        "similarity.candidates_per_query": extra.get("candidates_per_query", 0.0),
        "similarity.recall_at_k": extra.get("recall_at_k", 0.0),
        "trace.overhead_s": _mean(diffs),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    # On SIGTERM, unwind through the finally below so the JVM is stopped.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "elusion_spark", "__init__.py")):
        print(f"elusion_spark not found under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    set_env(work)
    sys.path.insert(0, ROOT)

    import numpy as np

    import extras
    from gen import generate
    from spans import EVENT_LOG_CONF, RssSampler, Tracer, read_event_log
    from workloads import REFRESH, WORKLOADS

    t_gen = time.perf_counter()
    inputs = os.path.join(work, "inputs")
    gen_info = generate(args.workload, args.seed, inputs)
    gen_s = time.perf_counter() - t_gen

    from elusion_spark import get_spark

    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    event_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(event_dir)
        conf.update(EVENT_LOG_CONF)
        conf["spark.eventLog.dir"] = event_dir
    t_sess = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    session_start = time.perf_counter() - t_sess
    try:
        tracer = Tracer(spark.sparkContext)
        wl = WORKLOADS[args.workload](inputs, gen_info, work)
        wl.prepare(spark, tracer)
        setup_s = time.perf_counter() - T_START - gen_s

        if args.trace:
            tracer.wrap_modules(LAYER_MODULES)
        from elusion_spark.cache import cache_stats

        run = Runner(wl, tracer)
        rng = np.random.default_rng([args.seed, 1])
        plan = wl.rounds(rng)
        with RssSampler() as rss:
            t0 = time.perf_counter()
            for req in next(plan):
                run.request(req, bool(args.trace))
            first_pass_s = time.perf_counter() - t0
            first_pass_n = len(run.records)
            for _ in range(wl.warmup_rounds):
                for req in next(plan):
                    run.request(req, False)
            n_before_timed = len(run.records)
            # A fixed number of whole rounds, so every run does the same work
            # with the same mix whatever the host's speed.  A traced run
            # traces every other occurrence of each request key, starting
            # with the first, so each key has traced requests and most have
            # untraced ones to compare.
            timed: list[int] = []
            seen: dict[str, int] = {}
            t0 = time.perf_counter()
            for _ in range(max(1, round(args.seconds / wl.round_s))):
                for req in next(plan):
                    timed.append(len(run.records))
                    k = seen[req.check_key] = seen.get(req.check_key, -1) + 1
                    run.request(req, bool(args.trace) and k % 2 == 0)
            timed_s = time.perf_counter() - t0
        stats = cache_stats()

        checks = list(run.to_check.values())
        t_check = time.perf_counter()
        bad = wl.check(checks)
        check_s = time.perf_counter() - t_check
        extra = extras.measure(wl, run, timed) if args.trace else {}
        spark_version, java = spark.version, _java_version()
    finally:
        stop_spark(spark)
    event_groups = read_event_log(event_dir) if args.trace else {}

    # Query latency only: extract refreshes are measured by rows_per_s and
    # the sources/sinks layers, so their assumed share does not pick the
    # percentiles.
    lat = [run.records[i]["wall"] for i in timed
           if run.records[i]["ok"] and run.records[i]["shape"] != REFRESH]
    attempted = len(run.records)
    # A shape whose checked output is wrong counts every request of it.
    failed = run.errors + sum(1 for r in run.records if r["ok"] and r["check"] in bad)
    t_val, t_pct, t_beyond = tail(lat) if lat else (0.0, 0.0, 0)
    by_shape: dict[str, list[float]] = {}
    for i in timed:
        if run.records[i]["ok"]:
            by_shape.setdefault(run.records[i]["check"], []).append(run.records[i]["wall"])
    sha, src = source_digest()
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": {
            "nproc": len(os.sched_getaffinity(0)),
            "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
            "driver_memory": DRIVER_MEMORY,
            "git_sha": sha, "source_sha256": src,
            "spark": spark_version, "python": platform.python_version(),
            "java": java,
        },
        "inputs": gen_info["files"], "row_unit": wl.row_unit,
        "requests": {"first_pass": first_pass_n, "warm_up": n_before_timed - first_pass_n,
                     "timed": len(timed), "timed_s": timed_s},
        "request_tail": {"percentile": t_pct, "samples": len(lat),
                         "samples_beyond": t_beyond},
        "shape_p50_s": {s: statistics.median(ws) for s, ws in sorted(by_shape.items())},
        # every request in order: (phase, check key, wall)
        "walls_s": [("first_pass" if i < first_pass_n else
                     "warm_up" if i < n_before_timed else "timed",
                     r["check"], round(r["wall"], 4)) for i, r in enumerate(run.records)],
        "checks": {"executed": len(checks), "keys": sorted(run.to_check),
                   "failed_shapes": bad, "seconds": check_s},
        "harness": {"generate_s": gen_s, "total_s": time.perf_counter() - T_START},
        "cache": stats,
        "peak_rss_mb_by_command": rss.by_command(),
    }
    if args.trace:
        metrics = layer_metrics(run, timed, extra, event_groups, session_start)
        units = {k: _unit(k) for k in metrics}
    else:
        metrics = {
            "setup_s": setup_s,
            "first_pass_s": first_pass_s,
            "request_p50_s": statistics.median(lat) if lat else 0.0,
            "request_tail_s": t_val,
            "rows_per_s": sum(run.records[i]["rows"] for i in timed
                              if run.records[i]["ok"]) / timed_s,
            "success_rate": 1.0 - failed / attempted,
            "peak_rss_mb": rss.peak / 2**20,
        }
        units = {"setup_s": "s", "first_pass_s": "s", "request_p50_s": "s",
                 "request_tail_s": "s", "rows_per_s": "1/s",
                 "success_rate": "ratio", "peak_rss_mb": "MB"}
    print(json.dumps(record, default=str))
    print(json.dumps({
        "correct": not bad and failed == 0 and len(checks) > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _mean(xs) -> float:
    return statistics.fmean(xs) if xs else 0.0


def _java_version() -> str:
    from pyspark import SparkContext

    jvm = SparkContext._jvm
    return jvm.System.getProperty("java.version") if jvm is not None else ""


def _unit(name: str) -> str:
    if name.endswith("per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith(("ratio", "recall_at_k", "amplification")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
