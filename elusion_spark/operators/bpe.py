"""BPE tokenizer training and encoding.

Beyond-parity module (the reference has no tokenizer surface): learn
byte-pair-encoding merges from a corpus and apply them — the canonical
"token counting with a learned vocab" step of a training-data pipeline,
done with the classic Sennrich-style word-frequency factorization so it
scales to any corpus size.

Scale shape: the ONLY corpus-sized job is the word-frequency
aggregation (``bpe_word_counts``) — one shuffle keyed on the word.
Training then touches only the *vocabulary* table (unique words +
frequencies; Heaps'-law small after a ``min_freq`` floor, ~10^5-10^6
rows even for a 100 TB corpus).  ``bpe_fit`` collects that floored
table once (at most ``MAX_DRIVER_VOCAB`` rows, raising past it) and
runs the exact incremental-pair-index Sennrich loop driver-side
(``train_bpe_incremental``: seconds for 30k merges), so a fit costs
the same few Spark jobs at any merge count.  Encoding (``bpe_encode``)
is one ``mapInPandas`` pass with a per-task distinct-word memo
(``operators.wordseg``); its cost per word is the merges that occur in
that word, so production-sized (30k-merge) vocabularies encode as fast
as small ones.

Pair counting counts every adjacent occurrence (including overlapping
ones like the two ``(a, a)`` pairs in ``aaa``) exactly as reference BPE
does; applying a merge is one greedy left-to-right non-overlapping
pass (``a a a a`` merges to ``aa aa``, not three overlapping ``aa``);
ties break deterministically on (count DESC, left ASC, right ASC), so
the learned merges are reproducible across engines and partitionings.
That rule is what the DuckDB oracles replay: suite q139/q161 unroll the
training loop in SQL and q140 re-encodes with the learned merges, both
as literal ``replace`` calls on words whose symbols are wrapped in
``\\x1f`` (the ASCII unit separator), where merging (a, b) is
``\\x1fa\\x1f\\x1fb\\x1f -> \\x1fab\\x1f``.  Words containing the
separator byte itself are therefore excluded (it is unprintable; real
corpora shed it in the `normalize_text` pass).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SEP = "\x1f"

# Largest floored vocabulary ``bpe_fit`` collects to the driver.
MAX_DRIVER_VOCAB = 2_000_000


def bpe_word_counts(
    df: DataFrame,
    text_col: str = "text",
    lowercase: bool = True,
) -> DataFrame:
    """The one corpus-sized job: whitespace-split the corpus and
    aggregate to ``(word, freq)``.  Everything after this touches only
    the vocabulary table.  Returns columns ``(word, freq)``."""
    w = F.explode(F.split(F.col(text_col), r"\s+")).alias("word")
    words = df.select(w).filter(F.length("word") > 0)
    if lowercase:
        words = words.select(F.lower("word").alias("word"))
    words = words.filter(~F.col("word").contains(SEP))
    return words.groupBy("word").agg(F.count("*").cast("bigint").alias("freq"))


def pretokenize_word_counts(
    wc: DataFrame,
    pre_tokenizer: dict,
) -> DataFrame:
    """Transform a ``bpe_word_counts`` table into PRE-TOKEN frequency
    space: each distinct word maps to its pre-tokenizer pieces
    (ByteLevel: GPT-2 regex split + byte→unicode remap of the
    space-preceded form; Metaspace: the ``▁``-marked form), frequencies
    re-aggregated per piece.  One ``mapInPandas`` + one agg, both
    VOCAB-sized — the corpus never re-scans.  Accepts an HF
    ``pre_tokenizer`` block or an already-parsed spec; a plain
    whitespace spec is a no-op.  Words are transformed in their
    mid-document (space-preceded) form — see ``bpe_fit``'s
    approximation note."""
    from .tokenizer_io import (make_pre_word_transforms,
                               parse_hf_pre_tokenizer)

    spec = parse_hf_pre_tokenizer(pre_tokenizer)
    if spec["type"] == "whitespace":
        return wc
    mid_fn, _first_fn = make_pre_word_transforms(spec)

    def _fn(pdfs):
        import pandas as pd

        for pdf in pdfs:
            words, freqs = [], []
            for w, f in zip(pdf["word"], pdf["freq"]):
                for piece in mid_fn(str(w)):
                    words.append(piece)
                    freqs.append(int(f))
            yield pd.DataFrame({"word": words, "freq": freqs})

    return (wc.mapInPandas(_fn, "word string, freq bigint")
              .groupBy("word")
              .agg(F.sum("freq").cast("bigint").alias("freq")))


def train_bpe_incremental(word_freqs: dict[str, int],
                          num_merges: int) -> list[dict]:
    """Driver-side exact Sennrich BPE with an incremental pair index —
    O(touched words) per merge instead of a full vocabulary recount, so
    30k merges over a 20k-word vocabulary train in seconds (measured:
    SCALE.md rounds 8-9).  Winners follow the (count DESC, left ASC,
    right ASC) tie rule, so for any ``word_freqs`` the merge list is
    bit-identical to the pure-Python Sennrich replay and to the DuckDB
    oracles' unrolled loop (pinned by tests/test_operators.py and suite
    q139/q161).

    This is the merge engine behind ``bpe_fit``; it is public so
    measurement tools and callers holding an already-collected
    frequency table can drive it directly.

    Winner selection is a lazy-deletion heap keyed ``(-count, l, r)``
    (exactly the tie rule): every count change pushes a fresh entry,
    pops discard entries whose count no longer matches the live table
    — so each merge costs O(touched-words + log heap), not O(live
    pairs).  Measured on the 18k-word Zipf vocabulary: the naive
    min()-scan loop took 180 s for 30k merges; the heap loop takes
    ~2 s (SCALE.md round 9)."""
    import heapq

    words = {w: list(w) for w in word_freqs}
    pair_count: dict[tuple, int] = {}
    pair_words: dict[tuple, set] = {}
    heap: list[tuple] = []

    def _add(w):
        syms, f = words[w], word_freqs[w]
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            c = pair_count.get(p, 0) + f
            pair_count[p] = c
            pair_words.setdefault(p, set()).add(w)
            heapq.heappush(heap, (-c, p[0], p[1]))

    def _remove(w):
        syms, f = words[w], word_freqs[w]
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            c = pair_count[p] - f
            if c <= 0:
                del pair_count[p]
                pair_words.pop(p, None)
            else:
                pair_count[p] = c
                heapq.heappush(heap, (-c, p[0], p[1]))
                s = pair_words.get(p)
                if s is not None:
                    s.discard(w)

    for w in words:
        _add(w)
    merges: list[dict] = []
    while len(merges) < num_merges and pair_count:
        # pop until a live entry: count must match the current table
        while heap:
            negc, l, r = heap[0]
            if pair_count.get((l, r)) == -negc:
                break
            heapq.heappop(heap)
        if not heap:
            break
        negc, l, r = heapq.heappop(heap)
        c = -negc
        merges.append({"merge_rank": len(merges) + 1, "lft": l,
                       "rgt": r, "pair_count": c})
        for w in list(pair_words.get((l, r), ())):
            _remove(w)
            syms, out, i = words[w], [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[w] = out
            _add(w)
    return merges


def bpe_fit(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 10,
    lowercase: bool = True,
    word_counts: DataFrame | None = None,
    min_freq: int = 1,
    pre_tokenizer: dict | None = None,
) -> list[dict]:
    """Learn ``num_merges`` BPE merges.  Returns a list of dicts
    ``{merge_rank, lft, rgt, pair_count}`` in learning order (bounded:
    one row per merge — never corpus-sized).

    One straight line: ``bpe_word_counts`` (the one corpus-sized job;
    pass ``word_counts`` — a ``bpe_word_counts`` output, possibly
    persisted and reused across fits — to skip the corpus scan) → the
    ``min_freq`` floor → the optional ``pre_tokenizer`` transform →
    one bounded collect of the frequency table → the exact
    incremental-pair-index Sennrich loop driver-side
    (``train_bpe_incremental``).  The Spark work is the same at 3 or
    30k merges; the merge count only costs driver CPU (30k merges in
    seconds).  This is how real tokenizers are trained at 100 TB: the
    corpus is reduced once, and the vocabulary is Heaps'-law small
    after a frequency floor.

    ``min_freq`` floors the vocabulary (``freq >= min_freq``).  This
    is the honest Heaps'-law guard for the driver collect — a web
    corpus's distinct-"word" table is unbounded (URLs, hashes, junk),
    but words below a small floor carry negligible pair mass — and it
    is exactly what production trainers do (HF
    ``BpeTrainer.min_frequency``; SentencePiece's vocabulary caps).
    Floored words are EXCLUDED from pair counts, so a floor can shift
    late/low-count merges vs an unfloored fit; the default 1 is a
    no-op.  A floored table of more than ``MAX_DRIVER_VOCAB`` rows
    raises ``ValueError`` (checked by the same ``limit(n + 1)``
    collect that fetches the training table — no extra counting job).

    ``pre_tokenizer`` (train in a PUBLISHED tokenizer's space): an HF
    ``pre_tokenizer`` block or a ``parse_hf_pre_tokenizer`` spec.  The
    word-frequency table is transformed VOCAB-SIDE (one
    ``mapInPandas`` over distinct words — never corpus-sized) into
    pre-token pieces before merging, so the learned merges live in
    ByteLevel (GPT-2 ``Ġword`` byte-alphabet) or Metaspace (``▁word``)
    space and export/encode cleanly as a real published-format
    tokenizer (see ``export_hf_tokenizer_json(pre_tokenizer=...)`` /
    ``hf_tokenizer_encode``).  Documented approximation: every word is
    counted in its MID-DOCUMENT form (space-preceded) — exact for
    ``add_prefix_space=True`` / Metaspace ``always``; for GPT-2's
    ``add_prefix_space=False`` the document-INITIAL word (one word in
    ~100) trains as if space-preceded, the same factorization HF's own
    trainer makes when fed line-split text."""
    if num_merges < 1:
        raise ValueError("num_merges must be >= 1")
    if min_freq < 1:
        raise ValueError("min_freq must be >= 1")
    wc = word_counts
    if wc is None:
        wc = bpe_word_counts(df, text_col, lowercase=lowercase)
    if min_freq > 1:
        wc = wc.filter(F.col("freq") >= F.lit(int(min_freq)))
    if pre_tokenizer is not None:
        wc = pretokenize_word_counts(wc, pre_tokenizer)
    rows = wc.select("word", "freq").limit(MAX_DRIVER_VOCAB + 1).collect()
    if len(rows) > MAX_DRIVER_VOCAB:
        raise ValueError(
            f"floored vocabulary exceeds MAX_DRIVER_VOCAB="
            f"{MAX_DRIVER_VOCAB} rows; raise min_freq")
    return train_bpe_incremental(
        {r["word"]: int(r["freq"]) for r in rows}, num_merges)


def bpe_segment_word(word: str, ranks: dict) -> list[str]:
    """Apply learned merges to ONE word (python-side, the segmenter
    behind ``bpe_encode``): repeatedly find the lowest-rank adjacent
    symbol pair present and merge every non-overlapping occurrence
    left-to-right.  ``ranks`` maps ``(lft, rgt) -> rank`` (lower =
    earlier merge).

    BIT-EQUAL to one greedy left-to-right non-overlapping pass per
    merge in rank order (the literal-`replace` rule the q140 oracle
    replays in SQL), for any
    WELL-FORMED merge list — one where each pair's symbols are base
    characters or outputs of earlier merges, which is what ``bpe_fit``
    always produces.  Proof shape: merging pair k creates new
    adjacencies only INVOLVING k's output symbol, and that symbol can
    only appear inside pairs of rank > k — so once rank k's single pass
    is done, rank-<=k pairs can never reappear, making "lowest rank
    present, repeat" identical to "one pass per rank in order".  The
    equivalence is additionally pinned by randomized tests against a
    sequential-pass reference (tests/test_tokenizer_encode.py).  Cost:
    O(word_len x merges_applied) — merges absent from the word cost
    nothing."""
    return bpe_segment_syms(list(word), ranks)


def bpe_segment_syms(syms: list[str], ranks: dict) -> list[str]:
    """``bpe_segment_word`` on an already-built initial symbol list —
    the entry HF-interop needs: foreign files with a restricted vocab
    unk-map or drop unknown CHARACTERS before merges run (HF's
    ``merge_word`` order), so the initial sequence may contain
    multi-char symbols like ``<unk>`` (see tokenizer_io.py
    ``hf_tokenizer_encode``)."""
    while len(syms) > 1:
        best_rank = None
        bl = br = None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, bl, br = r, syms[i], syms[i + 1]
        if best_rank is None:
            break
        out = []
        i = 0
        n = len(syms)
        while i < n:
            if i < n - 1 and syms[i] == bl and syms[i + 1] == br:
                out.append(bl + br)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def bpe_encode(
    df: DataFrame,
    text_col: str = "text",
    merges: list[dict] | None = None,
    lowercase: bool = True,
    out_col: str = "tokens",
) -> DataFrame:
    """Apply learned merges: tokenize ``text_col`` into an
    ``array<string>`` of BPE symbols (whitespace word split, then the
    merges replayed in rank order inside each word) plus a bigint
    ``n_tokens``.

    Runs as ``wordseg.encode_words_in_task``: one ``mapInPandas`` pass
    with the merge table in the closure and a per-task distinct-word
    memo, so a repeated word costs a dict lookup and a new one costs
    only the merges that occur in it (``bpe_segment_word``).  Nothing
    crosses the wire and no state is kept, so the same plan rides a
    100 TB scan or a streaming DataFrame, with any merge count.

    Words containing the ``\\x1f`` symbol separator or the ``\\x1e``
    record separator are excluded (unprintable control bytes that a
    real corpus sheds in ``normalize_text``); the exclusion decides
    which tokens come out, so it is part of the output contract."""
    from .wordseg import encode_words_in_task

    ranks = {(m["lft"], m["rgt"]): i for i, m in enumerate(merges or [])}
    out = encode_words_in_task(
        df, text_col,
        lambda w: bpe_segment_word(w, ranks),
        lowercase=lowercase, out_col=out_col,
        word_filter_py=lambda w: SEP not in w and "\x1e" not in w,
    )
    return out.withColumn(
        "n_tokens", F.size(F.col(out_col)).cast("bigint"))
