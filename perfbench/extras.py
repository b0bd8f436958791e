"""Per-layer useful-work figures a traced run measures once, outside the
timed region: dedup candidates vs confirmed pairs, ANN candidates and
recall against exact top-k, tokens encoded per second and rows loaded."""

from __future__ import annotations

import os
import statistics

import numpy as np
import pyarrow.parquet as pq

K = 10


def measure(wl, run, timed: list[int]) -> dict:
    if wl.name == "curation":
        return {**_curation(wl, run, timed), **_retrieval(wl, run, timed)}
    return _extract(wl, run, timed)


def _first_output(run, shape: str):
    req_cols_rows = run.to_check.get(shape)
    return (req_cols_rows[1], req_cols_rows[2]) if req_cols_rows else (None, None)


def _curation(wl, run, timed) -> dict:
    from elusion_spark.operators.dedup import minhash_dedup_pairs

    out = {}
    _, confirmed = _first_output(run, "q30_minhash_pairs")
    if confirmed is not None:
        # q30's own parameters with the Jaccard cut removed: every LSH
        # candidate pair the banding produced, exact-scored.
        docs = wl.spark.read.parquet(os.path.join(wl.dir, "documents.parquet"))
        candidates = minhash_dedup_pairs(docs, "doc_id", "text", num_hashes=64,
                                         bands=16, shingle_k=3, threshold=0.0,
                                         verify="exact").count()
        out["candidate_pairs"] = float(candidates)
        out["confirmed_ratio"] = len(confirmed) / candidates if candidates else 0.0
    cols, rows = _first_output(run, "q140_bpe_encode")
    walls = [run.records[i]["wall"] for i in timed
             if run.records[i]["shape"] == "q140_bpe_encode" and run.records[i]["ok"]]
    if rows is not None and walls:
        tokens = sum(r[cols.index("n_tokens")] for r in rows)
        out["tokens_per_s"] = tokens / statistics.fmean(walls)
    return out


def _retrieval(wl, run, timed) -> dict:
    """IVF-PQ (q143) scores only the vectors of the probed cells; its top-k
    is compared with the exact top-k by L2 over the same dimensions."""
    from elusion_spark import suite as S

    cols, rows = _first_output(run, "q143_ivf_pq_search")
    if rows is None:
        return {}
    table = pq.read_table(os.path.join(wl.dir, "embeddings.parquet"))
    ids = table.column("vec_id").to_numpy()
    emb = np.stack(table.column("embedding").to_numpy(zero_copy_only=False))
    v = emb[:, :S._Q142_M * S._Q142_DSUB].astype(np.float64)
    cells = np.asarray(S._Q143_CELLS)
    query = np.asarray(S._Q142_QUERY)
    sub = S._Q142_DSUB
    cell_of = np.argmin(((v[:, None, :sub] - cells[None]) ** 2).sum(-1), axis=1)
    probe = np.argsort(((query[:sub] - cells) ** 2).sum(-1), kind="stable")[:S._Q143_NPROBE]
    exact = set(ids[np.argsort(((v - query) ** 2).sum(1), kind="stable")[:K]])
    got = {r[cols.index("vec_id")] for r in rows}
    return {"recall_at_k": len(got & exact) / K,
            "candidates_per_query": float(np.isin(cell_of, probe).sum())}


def _extract(wl, run, timed) -> dict:
    """Rows the loaders produced per traced extract refresh: both sources
    plus the parquet and delta read-backs."""
    per = []
    for i in timed:
        rec = run.records[i]
        if rec["traced"] and rec["ok"] and "outcome" in rec:
            per.append(rec["rows"] + sum(r[0] for r in rec["outcome"][:-1]))
    return {"rows_loaded": statistics.fmean(per) if per else 0.0}
