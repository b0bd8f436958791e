"""The benchmark's workloads.

Each workload owns its request shapes, the closed-loop request plan, the
Python-side build of a request, the rows a request reads, and the
correctness check of a shape against an oracle that does not go through
``elusion_spark``: DuckDB SQL on the same input files for queries, and a
digest of the generator's own typed rows for the extract read-back.
"""

from __future__ import annotations

import itertools
import os
import shutil

import numpy as np


def _dsum(x: str) -> str:
    return f"CAST(SUM(CAST({x} AS DECIMAL(38,9))) AS DOUBLE)"


def _norm_cell(v):
    if isinstance(v, float) and v != v:
        return "NaN"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if type(v).__name__ == "Decimal":
        return float(v)
    return v


def rowset(cols, rows):
    """Order-insensitive form of a result: sorted column names and rows."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    out = [tuple(_norm_cell(r[i]) for i in idx) for r in rows]
    return (sorted(c.lower() for c in cols),
            sorted(out, key=lambda t: tuple(str(x) for x in t)))


class Request:
    """One request of the plan: a shape, its parameters, and whether it
    goes through the result cache."""

    def __init__(self, shape: str, params: dict | None = None, cached: bool = False):
        self.shape = shape
        self.params = params or {}
        self.cached = cached
        self.cache_hit = False  # set once the request has run

    @property
    def check_key(self) -> str:
        """Requests with equal keys are checked once per run; a cache repeat
        served from the cache has its own key, so a hit is checked too."""
        tags = [self.shape] + (["cached"] if self.cached else [])
        tags += ["hit"] if self.cache_hit else []
        return ":".join(tags + ([self.params["mode"]] if "mode" in self.params else []))


class Workload:
    name = ""
    row_unit = ""
    shapes: tuple[str, ...] = ()
    mix: tuple[str, ...] = ()  # the shapes of one round, repeats included
    # A run times round(--seconds / round_s) whole rounds.  It is a fixed
    # nominal, not a measured wall: a warm round takes about 6 s
    # (analytics) and 10 s (curation) on a quiet 4-core host, so the timed
    # region lasts longer than --seconds.
    round_s: float
    # Untimed rounds between the first pass and the timed region.  After
    # the first pass, curation requests keep getting faster for several
    # rounds (the first round after it runs up to a third slower than the
    # third), so its median would measure how far the JVM had warmed up.
    warmup_rounds = 0

    def __init__(self, inputs_dir: str, gen_info: dict, work_dir: str):
        self.dir = inputs_dir
        self.gen = gen_info
        self.work = work_dir

    def prepare(self, spark, tracer) -> None:
        """The program's first registration of the generated inputs."""
        from elusion_spark import load_parquet

        self.spark = spark
        self.tables = {}
        for fname in self.gen["files"]:
            if not fname.endswith(".parquet"):
                continue
            name = fname.split(".")[0]
            with tracer.span("sources"):
                self.tables[name] = load_parquet(os.path.join(self.dir, fname),
                                                 name, spark)

    def rounds(self, rng: np.random.Generator):
        """Endless closed-loop plan: each round is a seeded permutation of
        the mix."""
        while True:
            yield [Request(self.mix[i]) for i in rng.permutation(len(self.mix))]

    def rows(self, req: Request) -> int:
        raise NotImplementedError

    def oracle_sql(self, req: Request) -> str:
        raise NotImplementedError

    def check(self, checks: list[tuple[Request, list, list]]) -> list[str]:
        """Compare each (request, columns, rows) against DuckDB on the same
        parquet files; returns the check keys whose output differs."""
        import duckdb

        con = duckdb.connect()
        bad = []
        try:
            for fname in self.gen["files"]:
                if fname.endswith(".parquet"):
                    con.execute(f"CREATE VIEW {fname.split('.')[0]} AS SELECT * FROM "
                                f"'{os.path.join(self.dir, fname)}'")
            for req, cols, rows in checks:
                res = con.execute(self.oracle_sql(req))
                ocols = [d[0] for d in res.description]
                if rowset(cols, rows) != rowset(ocols, res.fetchall()):
                    bad.append(req.check_key)
        finally:
            con.close()
        return bad


# ------------------------------------------------------------------ analytics

# Three values each: the three timed rounds of a 15 s run use every value once.
ANALYTICS_PARAMS = {
    "star_join_agg": {"cutoff": ["1996-01-01", "1997-06-30", "1999-12-31"],
                      "min_lines": [100, 500, 1000]},
    "rank_window": {"top": [3, 5, 10]},
    "running_total": {"users": [5, 10, 20]},
    "pivot": {"min_disc": [0.0, 0.04, 0.08]},
    "string_pipeline": {"max_size": [5, 10, 15]},
    "percentiles": {"since": ["1995-06-01", "1997-01-01", "1999-01-01"]},
}
# First-round requests repeated through cached_elusion in every round, one
# entry per repeat.
CACHE_REPEATS = ("pivot", "pivot")

_STRING_ITEMS = [
    ("p_partkey", "p_partkey"),
    ("UPPER(p_name) AS pretty_name", "upper(p_name) AS pretty_name"),
    ("LPAD(CAST(p_partkey AS STRING), 8, '0') AS padded",
     "lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS padded"),
    ("TRANSLATE(p_brand, '#', '_') AS brand_u",
     "translate(p_brand, '#', '_') AS brand_u"),
    ("CAST(LENGTH(p_name) AS BIGINT) AS name_len",
     "CAST(length(p_name) AS BIGINT) AS name_len"),
    ("REVERSE(SUBSTRING(p_name, 1, 8)) AS rev_prefix",
     "reverse(substring(p_name, 1, 8)) AS rev_prefix"),
    ("CONCAT_WS('|', p_brand, p_type) AS joined",
     "concat_ws('|', p_brand, p_type) AS joined"),
]
_PCT = [("l_quantity", 0.5, "p50"), ("l_quantity", 0.9, "p90"),
        ("l_extendedprice", 0.99, "price_p99")]
_RUNNING = ("CAST(SUM(CAST(value AS DECIMAL(38,9))) OVER (PARTITION BY user_id "
            "ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
            "AS DOUBLE) AS running_value")
_RANK = ("CAST(ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal "
         "DESC, c_custkey) AS BIGINT) AS rn")


class Analytics(Workload):
    """The builder surface over a star schema: the criterion groups of the
    reference (star join with agg/having, ranking and running-total
    windows, pivot, string pipeline, percentiles) with seeded parameters,
    plus repeats through the result cache.  Each round also refreshes an
    extract: dirty CSV + NDJSON loads, a join, parquet and delta writes
    (overwrite, then append) and a read-back, so the loaders and writers
    are measured beside the queries they feed."""

    name = "analytics"
    row_unit = ("row of the input tables a request reads (cache hits "
                "included); for an extract refresh, CSV + JSON rows loaded")
    shapes = tuple(ANALYTICS_PARAMS)
    round_s = 5.0
    _reads = {"star_join_agg": ("lineitem", "orders", "customer"),
              "rank_window": ("customer",), "running_total": ("events",),
              "pivot": ("lineitem",), "string_pipeline": ("part",),
              "percentiles": ("lineitem",)}

    def prepare(self, spark, tracer) -> None:
        super().prepare(spark, tracer)
        self.out = os.path.join(self.work, "extract")
        shutil.rmtree(self.out, ignore_errors=True)
        os.makedirs(self.out)
        self.copies = 0
        self.source_bytes = sum(f["bytes"] for n, f in self.gen["files"].items()
                                if n in SOURCE_FILES)

    def rounds(self, rng):
        # Every round repeats the first round's pivot, the heaviest view,
        # twice through the result cache: the view a user keeps reopening.
        # It also refreshes the extract once, an overwrite in odd rounds and
        # an append in even ones; the first round (the first pass) does
        # both, so it warms both write paths.  The shares (2 cache repeats
        # and 1 refresh beside 6 fresh queries) are an
        # assumption, not taken from a measured trace; they are fixed so the
        # latency percentiles compare across seeds, and the seed picks the
        # repeated parameters and every position in the round.  Four of the
        # fresh shapes run at the per-query floor and the other two are two
        # to four times slower; a fast repeat (a star-join hit) would make
        # the fast and slow halves equal, and the median would sit in the
        # gap between them and swing from run to run.  Two pivot repeats
        # (a hit still pays the pivot's eager build) put the median and the
        # tail among the slow requests.  Each
        # parameter steps through a seeded permutation of its values, so
        # consecutive rounds cover the values evenly and a run's latencies
        # do not hinge on which values the seed happened to draw.
        order_of = {(s, k): rng.permutation(len(v))
                    for s, ps in ANALYTICS_PARAMS.items() for k, v in ps.items()}
        popular: list[Request] = []
        for rnd in itertools.count():
            fresh = []
            for i in rng.permutation(len(self.shapes)):
                shape = self.shapes[i]
                params = {k: v[order_of[shape, k][rnd % len(v)]]
                          for k, v in ANALYTICS_PARAMS[shape].items()}
                fresh.append(Request(shape, params))
            popular = popular or [next(r for r in fresh if r.shape == s)
                                  for s in CACHE_REPEATS]
            order = fresh + [Request(r.shape, r.params, cached=True) for r in popular]
            order = [order[j] for j in rng.permutation(len(order))]
            modes = (["overwrite", "append"] if rnd == 0
                     else ["overwrite" if rnd % 2 else "append"])
            slots = sorted(rng.choice(len(order) + len(modes), len(modes), replace=False))
            for slot, mode in zip(slots, modes):
                order.insert(slot, Request(REFRESH, {"mode": mode}))
            yield order

    def rows(self, req):
        if req.shape == REFRESH:
            return sum(self.gen["files"][f]["rows"] for f in SOURCE_FILES)
        return sum(self.gen["files"][f"{t}.parquet"]["rows"]
                   for t in self._reads[req.shape])

    def build(self, req):
        """The builder chain of one request, ending in a lazy DataFrame."""
        t, p = self.tables, req.params
        if req.shape == "star_join_agg":
            cdf = (t["lineitem"].join_many([
                (t["orders"], ["lineitem.l_orderkey = orders.o_orderkey"], "INNER"),
                (t["customer"].broadcast(),
                 ["orders.o_custkey = customer.c_custkey"], "INNER"),
            ])
                .filter(f"lineitem.l_shipdate <= '{p['cutoff']}'")
                .select(["customer.c_mktsegment", "orders.o_orderpriority"])
                .agg([f"{_dsum('lineitem.l_extendedprice * (1 - lineitem.l_discount)')}"
                      " AS revenue", "CAST(COUNT(*) AS BIGINT) AS n_lines"])
                .group_by_all()
                .having(f"COUNT(*) > {p['min_lines']}"))
        elif req.shape == "rank_window":
            base = (t["customer"].select(["c_custkey", "c_nationkey", "c_acctbal"])
                    .window(_RANK).elusion("rank_base"))
            cdf = base.filter(f"rn <= {p['top']}")
        elif req.shape == "running_total":
            cdf = (t["events"].filter(f"user_id < {p['users']}")
                   .select(["event_id", "user_id", "value"]).window(_RUNNING))
        elif req.shape == "pivot":
            base = (t["lineitem"].filter(f"l_discount >= {p['min_disc']}")
                    .select(["l_returnflag", "l_linestatus",
                             "CAST(l_quantity AS DECIMAL(38,9)) AS qty_dec"])
                    .elusion("pivot_base"))
            cdf = base.pivot(["l_returnflag"], "l_linestatus", "qty_dec", "SUM",
                             alias="pivoted").select([
                "l_returnflag",
                "CAST(COALESCE(l_linestatus_F, 0) AS DOUBLE) AS status_f",
                "CAST(COALESCE(l_linestatus_O, 0) AS DOUBLE) AS status_o",
            ])
        elif req.shape == "string_pipeline":
            cdf = (t["part"].filter(f"p_size <= {p['max_size']}")
                   .string_functions([s for s, _ in _STRING_ITEMS]))
        else:
            cdf = (t["lineitem"].filter(f"l_shipdate >= '{p['since']}'")
                   .select(["l_returnflag"])
                   .agg([f"CAST(ROUND(PERCENTILE({c}, {q}), 6) AS DOUBLE) AS {a}"
                         for c, q, a in _PCT])
                   .group_by_all())
        return cdf

    def oracle_sql(self, req):
        p = req.params
        if req.shape == "star_join_agg":
            return f"""
            SELECT c_mktsegment, o_orderpriority,
                   {_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
                   CAST(COUNT(*) AS BIGINT) AS n_lines
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                          JOIN customer ON o_custkey = c_custkey
            WHERE l_shipdate <= '{p['cutoff']}'
            GROUP BY c_mktsegment, o_orderpriority
            HAVING COUNT(*) > {p['min_lines']}"""
        if req.shape == "rank_window":
            return f"""
            SELECT * FROM (SELECT c_custkey, c_nationkey, c_acctbal, {_RANK}
                           FROM customer) WHERE rn <= {p['top']}"""
        if req.shape == "running_total":
            return (f"SELECT event_id, user_id, value, {_RUNNING} FROM events "
                    f"WHERE user_id < {p['users']}")
        if req.shape == "pivot":
            cols = ", ".join(
                f"CAST(COALESCE(SUM(CASE WHEN l_linestatus = '{s}' THEN "
                f"CAST(l_quantity AS DECIMAL(38,9)) END), 0) AS DOUBLE) AS status_{s.lower()}"
                for s in "FO")
            return (f"SELECT l_returnflag, {cols} FROM lineitem "
                    f"WHERE l_discount >= {p['min_disc']} GROUP BY l_returnflag")
        if req.shape == "string_pipeline":
            return (f"SELECT {', '.join(d for _, d in _STRING_ITEMS)} FROM part "
                    f"WHERE p_size <= {p['max_size']}")
        pcts = ", ".join(f"CAST(round(quantile_cont({c}, {q}), 6) AS DOUBLE) AS {a}"
                         for c, q, a in _PCT)
        return (f"SELECT l_returnflag, {pcts} FROM lineitem "
                f"WHERE l_shipdate >= '{p['since']}' GROUP BY l_returnflag")

    def refresh(self, req, tracer) -> tuple[list, list, list]:
        """Extract refresh: load, join, write parquet and delta, read both
        back.  Returns the read-back digests as the request's rows, and the
        (files, bytes) each write added."""
        from elusion_spark import load_csv, load_delta, load_json, load_parquet
        from elusion_spark.sinks.writers import write_to_delta, write_to_parquet

        mode = req.params["mode"]
        with tracer.span("sources"):
            sales = load_csv(os.path.join(self.dir, "sales.csv"), "s", self.spark)
            cust = load_json(os.path.join(self.dir, "customers.json"), "c", self.spark)
        with tracer.span("dataframe"):
            df = (sales.join(cust, ["s.customerkey = c.customerkey"], "INNER")
                  .select([f"s.{c}" for c in list(EXTRACT_TYPES)[:6]]
                          + ["c.status", "c.annualincome"])
                  .to_spark())
        pq_dir = os.path.join(self.out, "sales_parquet")
        delta_dir = os.path.join(self.out, "sales_delta")
        writes = []
        for path, write in ((pq_dir, write_to_parquet), (delta_dir, write_to_delta)):
            before = _files(path)
            with tracer.span("sinks"):
                write(df, mode, path)
            after = _files(path)
            new = [size for f, size in after.items() if before.get(f) != size]
            writes.append((len(new), sum(new)))
        self.copies = 1 if mode == "overwrite" else self.copies + 1
        with tracer.span("sources"):
            back = [load_parquet(pq_dir, "bp", self.spark).df,
                    load_delta(delta_dir, "bd", self.spark).df]
        with tracer.span("action"):
            rows = [tuple(b.selectExpr(*digest_sql(list(EXTRACT_TYPES))).first())
                    for b in back]
        return ["n", "h"], rows + [("copies", self.copies)], writes

    def check(self, checks):
        """Queries against DuckDB; each extract read-back must hold
        ``copies`` times the generator's typed rows (count and digest)."""
        import pandas as pd

        refreshes = [c for c in checks if c[0].shape == REFRESH]
        bad = super().check([c for c in checks if c[0].shape != REFRESH])
        if refreshes:
            exp = self.spark.createDataFrame(
                pd.DataFrame(self.gen["expected"]).astype({"orderquantity": "Int64"}),
                ", ".join(f"{c} {t}" for c, t in EXTRACT_TYPES.items()))
            n, h = exp.selectExpr(*digest_sql(list(EXTRACT_TYPES))).first()
            for req, _cols, rows in refreshes:
                copies = rows[-1][1]
                if any((r[0], r[1]) != (n * copies, str(int(h) * copies))
                       for r in rows[:-1]):
                    bad.append(req.check_key)
        return bad


REFRESH = "extract_refresh"
SOURCE_FILES = ("sales.csv", "customers.json")
EXTRACT_TYPES = {"orderdate": "string", "customerkey": "bigint",
                 "orderquantity": "bigint", "unitprice": "double",
                 "discount": "double", "ordernumber": "string",
                 "status": "string", "annualincome": "double"}


def digest_sql(cols) -> list[str]:
    """Row count and an order-independent content digest of ``cols``."""
    parts = ", ".join(f"coalesce(CAST({c} AS STRING), '<null>')" for c in cols)
    return ["CAST(COUNT(*) AS BIGINT) AS n",
            f"CAST(SUM(CAST(xxhash64({parts}) AS DECIMAL(38,0))) AS STRING) AS h"]


def _files(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, names in os.walk(path):
        for f in names:
            full = os.path.join(root, f)
            out[full] = os.path.getsize(full)
    return out


# ------------------------------------------------------------------ curation

CURATION_READS = {
    # curation: MinHash dedup, BPE fit + encode, and the whole
    # prepare_training_corpus pipeline (quality filter, exact and near
    # dedup, token accounting)
    "q30_minhash_pairs": ("documents",),
    "q140_bpe_encode": ("documents",),
    "q46_training_corpus": ("documents",),
    # retrieval over the corpus: IVF-PQ ADC, and BM25 + dense
    # reciprocal-rank fusion
    "q143_ivf_pq_search": ("embeddings",),
    "q93_hybrid_search": ("embeddings", "documents"),
}


class Curation(Workload):
    """The LLM-data operators over a corpus with 1% exact and 4% near
    duplicates and clustered embeddings.  Requests are suite queries
    (``elusion_spark.suite.QUERIES``), each checked against its DuckDB
    oracle (``suite.ORACLES``)."""

    name = "curation"
    row_unit = "document or embedding read by a request"
    shapes = tuple(CURATION_READS)
    # IVF-PQ search runs three times a round: the retrieval query a user
    # repeats most (an assumption, not taken from a trace).  It is also the
    # request at the median, so the median of a run rests on six of its
    # samples rather than two, which is what kept request_p50_s from
    # repeating within its bound on a shared 4-core host.
    mix = shapes + ("q143_ivf_pq_search",) * 2
    round_s = 7.5
    warmup_rounds = 1

    def rows(self, req):
        return sum(self.gen["files"][f"{t}.parquet"]["rows"]
                   for t in CURATION_READS[req.shape])

    def build(self, req):
        from elusion_spark.suite import QUERIES

        return QUERIES[req.shape](self.spark, self.dir)

    def oracle_sql(self, req):
        from elusion_spark.suite import ORACLES

        sql = ORACLES[req.shape]
        if req.shape in ("q30_minhash_pairs", "q46_training_corpus"):
            sql = block_pair_scan(sql)
        return sql


_ALL_PAIRS = "FROM sh a JOIN sh b ON a.id < b.id"
# Pairs with Jaccard >= 0.5 share at least half the shingles of the larger
# set (2|A & B| >= |A | B| >= max(|A|, |B|)), so joining on shared shingles
# and keeping those pairs drops no qualifying pair.
_BLOCKED_PAIRS = (
    "FROM (SELECT l.id AS x, r.id AS y "
    "FROM (SELECT id, unnest(s) AS g, len(s) AS n FROM sh) l "
    "JOIN (SELECT id, unnest(s) AS g, len(s) AS n FROM sh) r "
    "ON l.g = r.g AND l.id < r.id "
    "GROUP BY l.id, r.id, l.n, r.n HAVING 2 * count(*) >= greatest(l.n, r.n)) c "
    "JOIN sh a ON a.id = c.x JOIN sh b ON b.id = c.y")


def block_pair_scan(sql: str) -> str:
    """The same oracle with its all-pairs Jaccard scan (>= 0.5) restricted
    to pairs sharing enough shingles; the result is unchanged and the
    quadratic scan becomes a join on shingles."""
    if sql.count(_ALL_PAIRS) != 1 or ">= 0.5" not in sql:
        raise ValueError("oracle no longer has the single >= 0.5 pair scan")
    return sql.replace(_ALL_PAIRS, _BLOCKED_PAIRS).replace(
        "sh AS (", "sh AS MATERIALIZED (")


WORKLOADS = {w.name: w for w in (Analytics, Curation)}
