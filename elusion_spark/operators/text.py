"""Text-analysis operators for large-scale training-data pipelines.

Beyond-parity module (the reference has no text analytics — SURVEY §7.2
step 10): language ID, quality scoring, token counting, fingerprinting.

Design for 100 TB: every function here returns a *built-in-function
Column expression* — no Python UDFs, no driver round-trips — so the whole
pass stays inside whole-stage codegen and scales linearly with executors.
(Two documented exceptions use Arrow-batched pandas_udfs for things SQL
cannot express: ``compression_ratio`` (zlib) and ``normalize_text``'s
optional Unicode-normalization step — both narrow maps, never
row-at-a-time.)
Expressions are deliberately written with engine-portable primitives
(length/replace/like/md5) so the DuckDB oracle can mirror them exactly.
"""

from __future__ import annotations

import math

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny multilingual stopword seeds for the n-gram/stopword language
# heuristic. Deliberately small: the heuristic is O(|langs|) LIKE scans.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "est"],
    "es": ["el", "la", "que", "de", "es"],
}



def _id_widen(df: DataFrame, id_col: str, out_name: str):
    """Integral ids widen to bigint (stable oracle schemas); any other
    id type passes through NATIVE — a blanket bigint cast NULLs
    string/UUID ids (see dedup._id_out)."""
    from .dedup import _integral_id

    c = F.col(out_name)
    return c.cast("bigint") if _integral_id(df, id_col) else c


def char_count(col: str = "text") -> Column:
    return F.expr(f"CAST(length({col}) AS BIGINT)")


def token_count(col: str = "text") -> Column:
    """Whitespace token count via the length-difference identity —
    portable across engines (no regex-dialect dependence)."""
    return F.expr(
        f"CAST(CASE WHEN length(trim({col})) = 0 THEN 0 "
        f"ELSE length({col}) - length(replace({col}, ' ', '')) + 1 END AS BIGINT)"
    )


def bpe_token_estimate(col: str = "text") -> Column:
    """BPE-ish token-count estimate (chars/4 — the common GPT-family
    heuristic), as a pure expression."""
    return F.expr(f"CAST(ceil(length({col}) / 4.0) AS BIGINT)")


def avg_token_length(col: str = "text") -> Column:
    return F.expr(
        f"CAST(length(replace({col}, ' ', '')) AS DOUBLE) / "
        f"CAST(CASE WHEN length(trim({col})) = 0 THEN 1 "
        f"ELSE length({col}) - length(replace({col}, ' ', '')) + 1 END AS DOUBLE)"
    )


def punct_ratio(col: str = "text") -> Column:
    return F.expr(
        f"CAST(length({col}) - length(regexp_replace({col}, '[.,;:!?]', '')) "
        f"AS DOUBLE) / CAST(greatest(length({col}), 1) AS DOUBLE)"
    )


def stopword_hits(col: str = "text", lang: str = "en") -> Column:
    """Number of seed stopwords present (word-boundary LIKE scans)."""
    words = STOPWORDS[lang]
    padded = f"concat(' ', lower({col}), ' ')"
    terms = " + ".join(
        f"(CASE WHEN {padded} LIKE '% {w} %' THEN 1 ELSE 0 END)" for w in words
    )
    return F.expr(f"CAST({terms} AS BIGINT)")


def language_id(col: str = "text") -> Column:
    """Heuristic language ID: the language whose stopword seeds hit most;
    'und' (undetermined) when nothing hits.  Pure CASE/LIKE — JVM-side."""
    padded = f"concat(' ', lower({col}), ' ')"
    scores = {}
    for lang, words in STOPWORDS.items():
        scores[lang] = " + ".join(
            f"(CASE WHEN {padded} LIKE '% {w} %' THEN 1 ELSE 0 END)"
            for w in words
        )
    # greatest-score argmax with deterministic tie order en>de>fr>es
    order = list(STOPWORDS)
    cond = f"CASE WHEN ({scores[order[0]]}) = 0"
    for lang in order[1:]:
        cond += f" AND ({scores[lang]}) = 0"
    cond += " THEN 'und' "
    for lang in order:
        others = [f"({scores[lang]}) >= ({scores[o]})" for o in order if o != lang]
        cond += f"WHEN {' AND '.join(others)} THEN '{lang}' "
    cond += "END"
    return F.expr(cond)


def quality_score(col: str = "text") -> Column:
    """Composite quality score in [0,1]: length sweet-spot, token length
    sanity, punctuation presence.  The standard pre-training heuristic
    family (Gopher/C4-style rules), as one vectorized expression."""
    n = f"length({col})"
    tokens = (
        f"(CASE WHEN length(trim({col})) = 0 THEN 0 "
        f"ELSE {n} - length(replace({col}, ' ', '')) + 1 END)"
    )
    avg_tok = f"(CAST(length(replace({col}, ' ', '')) AS DOUBLE) / greatest({tokens}, 1))"
    return F.expr(
        "CAST("
        f"  0.4 * (CASE WHEN {n} BETWEEN 50 AND 100000 THEN 1.0 "
        f"          WHEN {n} < 50 THEN {n} / 50.0 ELSE 0.5 END)"
        f"+ 0.4 * (CASE WHEN {avg_tok} BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.3 END)"
        f"+ 0.2 * (CASE WHEN {tokens} >= 10 THEN 1.0 ELSE {tokens} / 10.0 END)"
        " AS DOUBLE)"
    )


def fingerprint(col: str = "text") -> Column:
    """Document fingerprint: md5 of the casefolded, space-collapsed text.
    Stable across engines (md5 is bit-identical everywhere)."""
    return F.expr(f"md5(lower(trim(regexp_replace({col}, '\\\\s+', ' '))))")


def add_text_stats(df: DataFrame, col: str = "text") -> DataFrame:
    """Attach the full stat family as columns — one codegen'd projection."""
    return df.withColumns(
        {
            "n_chars_calc": char_count(col),
            "n_tokens": token_count(col),
            "n_tokens_bpe_est": bpe_token_estimate(col),
            "avg_token_len": avg_token_length(col),
            "punct_ratio": punct_ratio(col),
            "lang_pred": language_id(col),
            "quality": quality_score(col),
            "fingerprint": fingerprint(col),
        }
    )


# ------------------------------------------------------- gopher rules

def gopher_quality_signals(col: str = "text") -> dict[str, Column]:
    """The per-document Gopher quality-rule signals (Rae et al. 2021,
    "Scaling Language Models: ... Gopher", Appendix A1.1 — the
    rule family MassiveWeb/FineWeb-style curation pipelines standardize
    on), each as ONE whole-stage-codegen expression over the raw text:

    - ``n_words`` — whitespace-token count;
    - ``mean_word_len`` — mean characters per word;
    - ``symbol_word_ratio`` — (``#`` + ``...``/``…``) per word;
    - ``bullet_line_frac`` — fraction of lines starting with a bullet;
    - ``ellipsis_line_frac`` — fraction of lines ending in an ellipsis;
    - ``alpha_word_frac`` — fraction of words containing a letter;
    - ``stop_hits`` — seed-stopword presence count (the paper's
      "contains >= 2 of a small stopword set" rule).

    All ratios are exact integer-count divisions in DOUBLE, so an
    external ANSI replay (DuckDB ``list_filter`` + the identical
    regexes) reproduces them bit-for-bit.  No UDFs, no shuffle — at
    100 TB this whole family rides the parquet scan's projection."""
    words = f"filter(split(trim({col}), '\\\\s+'), w -> w <> '')"
    nw = f"size({words})"
    nw1 = f"greatest({nw}, 1)"
    lines = f"split({col}, '\\n')"
    nl1 = f"greatest(size({lines}), 1)"
    ell3 = (f"(length({col}) - length(replace({col}, '...', ''))) DIV 3 "
            f"+ length({col}) - length(replace({col}, '…', ''))")
    hashes = f"length({col}) - length(replace({col}, '#', ''))"
    return {
        "n_words": F.expr(f"CAST({nw} AS BIGINT)"),
        "mean_word_len": F.expr(
            f"CAST(aggregate({words}, 0L, (a, w) -> a + length(w)) "
            f"AS DOUBLE) / CAST({nw1} AS DOUBLE)"),
        "symbol_word_ratio": F.expr(
            f"CAST({hashes} + {ell3} AS DOUBLE) / CAST({nw1} AS DOUBLE)"),
        "bullet_line_frac": F.expr(
            f"CAST(size(filter({lines}, l -> l rlike "
            f"'^\\\\s*[-*•‣●]')) AS DOUBLE) "
            f"/ CAST({nl1} AS DOUBLE)"),
        "ellipsis_line_frac": F.expr(
            f"CAST(size(filter({lines}, l -> l rlike "
            f"'(\\\\.\\\\.\\\\.|…)\\\\s*$')) AS DOUBLE) "
            f"/ CAST({nl1} AS DOUBLE)"),
        "alpha_word_frac": F.expr(
            f"CAST(size(filter({words}, w -> w rlike '[A-Za-z]')) "
            f"AS DOUBLE) / CAST({nw1} AS DOUBLE)"),
        "stop_hits": stopword_hits(col),
    }


def gopher_quality_filter(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
    keep_signals: bool = True,
    out_col: str = "gopher_pass",
) -> DataFrame:
    """Gopher document-quality filter: attach the rule signals (see
    ``gopher_quality_signals``) and a conjunction verdict column with
    the paper's default thresholds.  Returns the input with signal
    columns (unless ``keep_signals=False``) and ``out_col`` boolean —
    callers decide whether to ``filter`` or to keep the verdict for
    audit (the usual curation-pipeline practice: keep signals, filter
    late, so threshold sweeps don't re-scan the corpus).

    Threshold comparisons run on the UNROUNDED doubles; since every
    signal is an integer-count division, an external replay computes
    the identical IEEE value and the verdict is engine-exact."""
    sig = gopher_quality_signals(text_col)
    verdict = (
        (sig["n_words"] >= F.lit(min_words))
        & (sig["n_words"] <= F.lit(max_words))
        & (sig["mean_word_len"] >= F.lit(float(min_mean_word_len)))
        & (sig["mean_word_len"] <= F.lit(float(max_mean_word_len)))
        & (sig["symbol_word_ratio"] <= F.lit(float(max_symbol_word_ratio)))
        & (sig["bullet_line_frac"] <= F.lit(float(max_bullet_line_frac)))
        & (sig["ellipsis_line_frac"] <= F.lit(float(max_ellipsis_line_frac)))
        & (sig["alpha_word_frac"] >= F.lit(float(min_alpha_word_frac)))
        & (sig["stop_hits"] >= F.lit(min_stopword_hits))
    )
    cols = dict(sig) if keep_signals else {}
    cols[out_col] = verdict
    return df.withColumns(cols)


# ------------------------------------------------------------ lm scoring

def lm_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab: DataFrame | None = None,
    round_digits: int = 6,
    broadcast_vocab: bool = True,
) -> DataFrame:
    """Unigram language-model cross-entropy per document — the
    SQL-auditable degenerate of the CCNet/RefinedWeb perplexity filter
    (Wenzek et al. 2019 score CommonCrawl against a KenLM n-gram model
    and keep the low-perplexity head; the unigram case keeps the same
    two-pass shape while every number stays reproducible cross-engine).

    Pass 1 builds the model: explode tokens → corpus token counts → each
    token's log-probability.  Pass 2 scores: join each document's tokens
    to the model and fold to ``xent = -mean(log p(token))`` per doc
    (lower = more typical of the training distribution).

    Determinism contract: per-token log-probs are rounded to
    ``round_digits`` and held as DECIMAL, so the per-doc sum is EXACT
    under any partitioning/association order; only the final division is
    floating point, on identical operands in any engine.

    Pass a precomputed ``vocab`` DataFrame (columns ``__tok``,
    ``__logp``) to score one corpus against a reference model fitted on
    another (the actual CCNet setup: Wikipedia-trained model scoring
    CommonCrawl) — e.g. ``lm_fit(wiki)`` then ``lm_score(cc,
    vocab=...)``.  Out-of-vocabulary tokens are dropped from the fold
    (add a floor row to the vocab to penalize them instead).

    Scale shape: token-count shuffle carries (token-hash, count) longs;
    the scoring join broadcasts the model when ``broadcast_vocab`` (token
    *types*, not occurrences — Heaps' law keeps this small relative to
    the corpus), else shuffles on the token key; the per-doc fold is one
    id-keyed aggregation.  Document bodies never cross the wire."""
    toks = f"filter(split(lower(trim({text_col})), ' +'), t -> t <> '')"
    tok = df.select(
        F.col(id_col).alias("__id"), F.explode(F.expr(toks)).alias("__tok")
    )
    if vocab is None:
        vocab = lm_fit(tok, round_digits=round_digits)
    model = F.broadcast(vocab) if broadcast_vocab else vocab
    return (
        tok.join(model, "__tok")
        .groupBy("__id")
        .agg(
            F.count("*").alias("__n"),
            F.sum("__logp").alias("__slp"),
        )
        .select(
            _id_widen(df, id_col, "__id").alias(id_col),
            F.col("__n").cast("bigint").alias("n_tokens"),
            F.round(
                -F.col("__slp").cast("double") / F.col("__n").cast("double"),
                round_digits,
            ).alias("xent"),
        )
    )


def lm_fit(tok: DataFrame, round_digits: int = 6) -> DataFrame:
    """Fit the unigram model from an exploded ``(__id, __tok)`` frame:
    one token-keyed count shuffle, then log-probs against the corpus
    total (a one-row broadcast).  Returns ``(__tok, __logp)`` with
    ``__logp`` as DECIMAL for order-independent exact summation."""
    counts = tok.groupBy("__tok").agg(F.count("*").alias("__cnt"))
    total = counts.agg(F.sum("__cnt").alias("__tot"))
    return counts.crossJoin(F.broadcast(total)).select(
        "__tok",
        F.expr(
            f"CAST(ROUND(LN(CAST(__cnt AS DOUBLE) / CAST(__tot AS DOUBLE)), "
            f"{round_digits}) AS DECIMAL(18,{round_digits}))"
        ).alias("__logp"),
    )


def lm_save(vocab: DataFrame, path: str) -> None:
    """Persist a fitted unigram model (``lm_fit`` output) to parquet —
    the CCNet workflow fits ONCE on the reference corpus (Wikipedia) and
    scores every crawl against it; the saved model is the artifact that
    makes scores comparable across ingest runs."""
    vocab.select(
        F.col("__tok").alias("tok"),
        F.col("__logp").alias("logp"),
    ).write.mode("overwrite").parquet(path)


def lm_load(spark, path: str) -> DataFrame:
    """Load a persisted unigram model for ``lm_score(vocab=...)``."""
    return spark.read.parquet(path).select(
        F.col("tok").alias("__tok"), F.col("logp").alias("__logp")
    )


def lm_score_bigram(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_digits: int = 6,
    broadcast_model: bool = True,
) -> DataFrame:
    """Bigram conditional cross-entropy per document — one order up from
    ``lm_score`` toward the CCNet KenLM setup: score each transition by
    ``-log p(w2 | w1) = -log(count(w1 w2) / count(w1 ·))``.  Repetitive
    or formulaic text (same transitions over and over) scores LOW;
    documents whose word order is unusual for the corpus score HIGH even
    when their individual words are common — the signal unigrams cannot
    see.

    Bigrams are derived IN-ROW (``zip_with`` of the token array with its
    own 1-shifted slice) — no positional window, no per-token shuffle;
    the only wide operations are the model's two count aggregations,
    a broadcast (or shuffle) model join, and the per-doc fold.  The same
    rounded-DECIMAL determinism contract as ``lm_score``: conditional
    log-probs are exact-summable in any order on any engine.

    Docs with fewer than 2 tokens have no transitions and drop out
    (consistent on both engines).  Output: ``(id, n_bigrams, xent)``."""
    toks = f"filter(split(lower(trim({text_col})), ' +'), t -> t <> '')"
    big = df.select(
        F.col(id_col).alias("__id"),
        F.explode(
            F.expr(
                f"zip_with(slice({toks}, 1, size({toks}) - 1), "
                f"slice({toks}, 2, size({toks}) - 1), "
                f"(a, b) -> struct(a AS w1, b AS w2))"
            )
        ).alias("__bg"),
    ).select("__id", F.col("__bg.w1").alias("__w1"),
             F.col("__bg.w2").alias("__w2"))
    from pyspark.sql.window import Window

    # Context totals via a window over the pair counts (r11):
    # count(w1 ·) == SUM over w2 of count(w1, w2) — an exact bigint
    # identity — so the old separate `big.groupBy("__w1")` aggregation
    # re-evaluated the corpus-sized tokenize+zip_with+explode lineage a
    # THIRD time (profiled at sf0.1 as one of three ~0.45 s serial
    # stages) for a table derivable from pair_counts alone.  The
    # window's exchange on __w1 carries the distinct-bigram pair table
    # and replaces the old ctx_counts exchange on __w1, which carried
    # only the smaller map-side partial context counts (the old
    # pair_counts/ctx_counts join was a broadcast join).  Net: one full
    # corpus pass and its map-side aggregation removed, the exchange
    # count unchanged, one exchange now distinct-bigram-sized instead of
    # vocab-sized — negligible next to the removed corpus pass
    # (guide §2.3/2.4).
    pair_counts = big.groupBy("__w1", "__w2").agg(
        F.count("*").alias("__pc")
    )
    model = pair_counts.withColumn(
        "__cc", F.sum("__pc").over(Window.partitionBy("__w1"))
    ).select(
        "__w1", "__w2",
        F.expr(
            f"CAST(ROUND(LN(CAST(__pc AS DOUBLE) / CAST(__cc AS DOUBLE)), "
            f"{round_digits}) AS DECIMAL(18,{round_digits}))"
        ).alias("__logp"),
    )
    if broadcast_model:
        model = F.broadcast(model)
    return (
        big.join(model, ["__w1", "__w2"])
        .groupBy("__id")
        .agg(F.count("*").alias("__n"), F.sum("__logp").alias("__slp"))
        .select(
            _id_widen(df, id_col, "__id").alias(id_col),
            F.col("__n").cast("bigint").alias("n_bigrams"),
            F.round(
                -F.col("__slp").cast("double") / F.col("__n").cast("double"),
                round_digits,
            ).alias("xent"),
        )
    )


# -------------------------------------------------------------- chunking

def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_size: int = 128,
    stride: int | None = None,
    min_tokens: int = 1,
) -> DataFrame:
    """Sliding-window token chunking — the RAG-indexing / context-window
    prep primitive: each document becomes overlapping windows of
    ``chunk_size`` tokens starting every ``stride`` tokens (default
    non-overlapping, ``stride = chunk_size``).  Trailing windows may be
    short; ``min_tokens`` drops fragments below the floor.

    Pure narrow map: tokenize once, generate start offsets with
    ``sequence``, slice per offset — a bounded row expander
    (≤ n_tokens/stride chunks per doc), zero shuffle, whole plan inside
    the scan stage.  Output: ``(id, chunk_idx, n_tokens, chunk_text)``
    with ``chunk_idx`` dense per document in token order."""
    stride = stride or chunk_size
    toks = f"filter(split(lower(trim({text_col})), ' +'), t -> t <> '')"
    return (
        df.select(
            F.col(id_col),
            F.expr(toks).alias("__toks"),
        )
        .select(
            id_col,
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, greatest(size(__toks) - 1, 0), "
                    f"{stride}), s -> slice(__toks, s + 1, {chunk_size}))"
                )
            ).alias("chunk_idx", "__chunk"),
        )
        .select(
            _id_widen(df, id_col, id_col).alias(id_col),
            F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
            F.size("__chunk").cast("bigint").alias("n_tokens"),
            F.array_join("__chunk", " ").alias("chunk_text"),
        )
        .filter(F.col("n_tokens") >= min_tokens)
    )


# ------------------------------------------------------------------- pii

# conservative, JVM-side regexes (same semantics in DuckDB's regexp_replace
# with the 'g' flag — kept ASCII/portable so oracles match byte-for-byte).
# Insertion order IS redaction order: specific patterns (ssn, ipv4) run
# before the greedy phone pattern, which would otherwise swallow them.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ssn": r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
    "ipv4": r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
    "phone": r"\+?[0-9][0-9()\-\s]{7,}[0-9]",
}


def redact_pii(col: str = "text", kinds: list[str] | None = None) -> Column:
    """Replace PII spans with ``[KIND]`` tokens — chained regexp_replace,
    whole-stage-codegen'd, no UDF.  The standard pre-training scrub; at
    100 TB this is a pure narrow map over the scan."""
    expr = F.col(col)
    for kind in kinds or list(PII_PATTERNS):
        expr = F.regexp_replace(expr, PII_PATTERNS[kind], f"[{kind.upper()}]")
    return expr


def compression_ratio(col: str = "text", level: int = 6) -> Column:
    """Gopher/Dolma-style compressibility quality signal:
    ``len(deflate(text)) / len(utf8(text))`` — boilerplate, templated
    spam, and machine-generated repetition compress far below ~0.4,
    natural prose sits near 0.5-0.8, so a simple band filter on this
    one number removes a class of junk that token-level repetition
    signals (see ``repetition_signals``) only partially catch.

    This is the package's one genuinely non-SQL-expressible text
    signal, so it is the slow path done right: an Arrow-batched
    ``pandas_udf`` (never row-at-a-time), a narrow map with no shuffle
    — at 100 TB it rides the scan like every other signal here.
    zlib with a fixed ``level`` is deterministic for a given input, so
    the parity test recomputes expected values exactly.  NULL text →
    NULL; empty text → 1.0 (defined as incompressible, keeps the band
    filter total)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _ratio(s: pd.Series) -> pd.Series:
        import zlib

        def one(t):
            if t is None:
                return None
            b = t.encode("utf-8")
            if not b:
                return 1.0
            return float(len(zlib.compress(b, level))) / float(len(b))

        return s.map(one)

    return _ratio(F.col(col))


def normalize_text(
    col: str = "text",
    form: str | None = "NFC",
    strip_control: bool = True,
    collapse_whitespace: bool = True,
) -> Column:
    """Canonical text cleanup for corpus ingestion: Unicode
    normalization (NFC/NFKC/NFD/NFKD), control-character and
    zero-width-character removal, and whitespace collapsing — the
    standard first pass before hashing/dedup so that byte-different
    encodings of the SAME text (combining vs precomposed accents,
    NBSP vs space, BOM remnants) can't defeat exact dedup.

    The control/zero-width strip and whitespace collapse are pure
    ``regexp_replace`` chains (whole-stage codegen); only the Unicode
    normalization itself — which Spark has no builtin for — uses an
    Arrow-batched ``pandas_udf`` over ``unicodedata.normalize``, and
    ``form=None`` skips it entirely, keeping the operator 100%
    expression-side.  Narrow map, no shuffle.  Order: normalize →
    strip → collapse → trim, so e.g. NFKC turning NBSP into a space
    still collapses."""
    expr: Column = F.col(col)
    if form is not None:
        if form not in ("NFC", "NFKC", "NFD", "NFKD"):
            raise ValueError(f"unknown normalization form: {form!r}")
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("string")
        def _norm(s: pd.Series) -> pd.Series:
            import unicodedata

            return s.map(
                lambda t: unicodedata.normalize(form, t)
                if t is not None else None
            )

        expr = _norm(expr)
    if strip_control:
        # C0/C1 controls except \t\n\r, plus zero-width + BOM.
        expr = F.regexp_replace(
            expr,
            F.lit("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F"
                  "\\u200B\\u200C\\u200D\\uFEFF]"),
            F.lit(""),
        )
    if collapse_whitespace:
        expr = F.trim(F.regexp_replace(expr, F.lit("\\s+"), F.lit(" ")))
    return expr


def pii_counts(col: str = "text") -> dict[str, Column]:
    """Per-kind PII hit counts (regexp_count — audit metrics before/after
    a scrub pass).  Patterns go in as lit() columns, NOT SQL string
    literals — SQL literal parsing would eat the backslashes."""
    return {
        kind: F.regexp_count(F.col(col), F.lit(pat)).alias(f"n_{kind}")
        for kind, pat in PII_PATTERNS.items()
    }


# ------------------------------------------------------------ paragraphs

def split_paragraphs(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """One row per paragraph: (id, para_idx, para).  Splits on blank
    lines, dropping empty segments — narrow map, no shuffle."""
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.posexplode(
                F.expr(f"filter(split({text_col}, '\\n\\\\s*\\n'), "
                       f"p -> length(trim(p)) > 0)")
            ).alias("para_idx", "para"),
        )
    )


def remove_boilerplate_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_frequency: int = 2,
) -> DataFrame:
    """Cross-document paragraph dedup (the RefinedWeb/CCNet boilerplate
    pass): paragraphs appearing in more than ``max_doc_frequency``
    distinct documents are dropped from every document; surviving
    paragraphs are reassembled in order.

    Shuffle budget: one groupBy on the paragraph hash (hash+id only, no
    text bodies), one broadcast-or-shuffle join back, one reassembly
    groupBy on id.  Documents left empty after stripping are removed."""
    paras = split_paragraphs(df, id_col, text_col)
    freq = (
        paras.select(F.md5(F.trim("para")).alias("__ph"), "id")
        .distinct()
        .groupBy("__ph")
        .agg(F.count("*").alias("__docs"))
        .filter(F.col("__docs") > max_doc_frequency)
        .select("__ph")
    )
    kept = (
        paras.withColumn("__ph", F.md5(F.trim("para")))
        .join(freq, "__ph", "left_anti")
    )
    return (
        kept.groupBy("id")
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list("
                "struct(para_idx, para))), s -> s.para), '\n\n')"
            ).alias(text_col)
        )
        .withColumnRenamed("id", id_col)
    )


# ------------------------------------------------- repetition signals

def repetition_signals(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_ngram_ns: tuple[int, ...] = (2, 3, 4),
    dup_ngram_ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10),
) -> DataFrame:
    """Gopher-style intra-document repetition quality signals (Rae et al.
    2021, table A1; also used by RefinedWeb/Dolma filters).

    Per document:
    - ``dup_line_frac`` / ``dup_para_frac`` — fraction of lines /
      paragraphs that are repeats: ``(units - distinct) / units``;
    - ``dup_line_char_frac`` / ``dup_para_char_frac`` — characters in
      ALL occurrences of any repeated line / paragraph over total chars;
    - ``top_{n}gram_char_frac`` (n in ``top_ngram_ns``) — chars covered
      by the most frequent token n-gram: ``count * len(gram) /
      total_chars`` (ties: highest count, then longest gram — the value
      depends only on (count, len), so tie-break order cannot change it);
    - ``dup_{n}gram_char_frac`` (n in ``dup_ngram_ns``) — ``sum(count *
      len(gram))`` over n-grams with count > 1, over total chars (the
      NeMo-Curator-style approximation of Gopher's overlap-aware count;
      may exceed 1.0 for pathologically repetitive text — callers
      threshold, they don't sum).

    Scale shape — everything in the hot path is whole-stage codegen, no
    interpreted higher-order functions, no persist:

    1. ``posexplode`` the token array into (id, pos, token-hash,
       token-length) rows — tokens are hashed/measured ONCE, at the
       explode, and the text itself never leaves the scan stage;
    2. one window shuffle on the id: ``lead(pos, j)`` pulls the next
       ``max(n)-1`` token hashes/lengths alongside each row, so every
       n-gram is a fixed-width multi-arg ``xxhash64`` + integer sum —
       straight-line generated code, zero per-element boxing (the
       previous ``transform``-lambda formulation was CodegenFallback:
       it allocated ~20 boxed values per gram, and the resulting GC
       pressure made warm runs swing 2-18 s at sf0.1);
    3. ``stack`` fans each token row out to one row per n, tail
       positions (NULL lead ⇒ NULL glen) filtered out;
    4. line/paragraph units come from a separate cheap explode (orders
       of magnitude fewer units than token n-grams), unioned in before
       the count;
    5. ONE shuffle counts (id, kind, gram-hash) groups; two more tiny
       shuffles fold per-kind metrics to a row per document.  Per-doc
       char totals travel inside the rows — no join back to the corpus.

    No gram STRING ever leaves the row: the count shuffle moves a
    (kind INT, hash BIGINT, glen INT) triple instead of ~40-char gram
    strings.  Counting by 64-bit hash instead of gram text is exact up
    to xxhash64 collisions (~2^-64 per gram pair)."""
    from pyspark.sql.window import Window

    all_ns = sorted(set(top_ngram_ns) | set(dup_ngram_ns))
    max_lead = max(all_ns) - 1
    toks = f"split(lower(trim({text_col})), ' +')"

    tok = df.select(
        F.col(id_col).alias("__id"),
        F.length(text_col).alias("__tc"),
        F.posexplode(F.expr(toks)).alias("__pos", "__t"),
    ).select(
        "__id", "__tc", "__pos",
        F.xxhash64("__t").alias("__h0"),
        F.length("__t").alias("__l0"),
    )
    # The n-gram stage is compute-heavy per shuffle byte (9 multi-arg
    # hashes per token row), so AQE's size-based coalescing starves it
    # (it shrank this stage to 3 tasks at sf0.1 — measured 2x slower).
    # An explicit numPartitions repartition is exempt from AQE coalesce
    # and satisfies the window's clustering, so the window adds no
    # further exchange — one shuffle total for the hot stage.
    par = df.sparkSession.sparkContext.defaultParallelism
    tok = tok.repartition(par, "__id")
    w = Window.partitionBy("__id").orderBy("__pos")
    for j in range(1, max_lead + 1):
        tok = tok.withColumn(f"__h{j}", F.lead("__h0", j).over(w))
        tok = tok.withColumn(f"__l{j}", F.lead("__l0", j).over(w))
    # one stack row per n-gram size; NULL lead at the tail => NULL glen
    # (integer + NULL), filtered below.  NOTE: xxhash64 skips NULL args
    # rather than returning NULL, so the glen-NULL filter is what keeps
    # truncated tail grams out of the counts.
    stack_args = []
    for n in all_ns:
        hsh = ", ".join(f"__h{j}" for j in range(n))
        ln = " + ".join(f"__l{j}" for j in range(n))
        stack_args.append(f"{n}, xxhash64({hsh}), {ln} + {n - 1}")
    gram_units = (
        tok.select(
            "__id", "__tc",
            F.expr(
                f"stack({len(all_ns)}, {', '.join(stack_args)}) "
                f"AS (__kind, __gh, __glen)"
            ),
        )
        .filter(F.col("__glen").isNotNull())
    )
    # kind codes: 0 = line, 1 = para, n = token n-gram (n >= 2).  The
    # line/para pass still uses a transform lambda, but over ~1-2 units
    # per doc it is noise next to the token-gram volume.
    lp_units = (
        df.select(
            F.col(id_col).alias("__id"),
            F.length(text_col).alias("__tc"),
            F.explode(F.expr(
                f"concat("
                f"transform(split({text_col}, '\\n'), "
                f"x -> struct(0 AS kind, xxhash64(x) AS gh, length(x) AS glen)), "
                f"transform(split({text_col}, '\\n{{2,}}'), "
                f"x -> struct(1 AS kind, xxhash64(x) AS gh, length(x) AS glen)))"
            )).alias("__u"),
        )
        .select("__id", "__tc", F.col("__u.kind").alias("__kind"),
                F.col("__u.gh").alias("__gh"), F.col("__u.glen").alias("__glen"))
    )
    # Repartition the unioned units by __id ONLY before counting:
    # HashPartitioning on a subset of the grouping keys satisfies
    # ClusteredDistribution, so the three downstream groupBys
    # ((id,kind,gh) -> (id,kind) -> (id)) all reuse this one exchange —
    # 2 shuffles total for the whole fold instead of 4.  Same explicit-
    # numPartitions rationale as the window stage: exempt from AQE
    # coalescing, which starves this compute-heavy/byte-light stage.
    exploded = gram_units.unionByName(lp_units).repartition(par, "__id")
    counts = (
        exploded.groupBy("__id", "__kind", "__gh")
        .agg(F.count("*").alias("__cnt"), F.first("__tc").alias("__tc"),
             F.first("__glen").alias("__glen"))
    )
    per_kind = (
        counts.groupBy("__id", "__kind")
        .agg(
            F.first("__tc").alias("__tc"),
            F.sum("__cnt").alias("__units"),
            F.count("*").alias("__distinct"),
            F.sum(F.when(F.col("__cnt") > 1,
                         F.col("__cnt") * F.col("__glen")).otherwise(F.lit(0))
                  ).alias("__dup_chars"),
            F.max(F.struct(F.col("__cnt"), F.col("__glen"))).alias("__top"),
        )
        .withColumn("__top_chars", F.col("__top.__cnt") * F.col("__top.__glen"))
    )

    def _frac(kind_code: int, num_expr):
        return F.max(F.when(F.col("__kind") == kind_code, num_expr))

    aggs = []
    for kind_code, label in ((0, "line"), (1, "para")):
        aggs.append(F.coalesce(_frac(kind_code,
            (F.col("__units") - F.col("__distinct")).cast("double")
            / F.col("__units").cast("double")), F.lit(0.0)
        ).alias(f"dup_{label}_frac"))
        aggs.append((F.coalesce(_frac(kind_code, F.col("__dup_chars").cast("double")),
                                F.lit(0.0))
                     / F.first("__tc").cast("double")
                     ).alias(f"dup_{label}_char_frac"))
    for n in top_ngram_ns:
        aggs.append((F.coalesce(_frac(n, F.col("__top_chars").cast("double")),
                                F.lit(0.0))
                     / F.first("__tc").cast("double")
                     ).alias(f"top_{n}gram_char_frac"))
    for n in dup_ngram_ns:
        aggs.append((F.coalesce(_frac(n, F.col("__dup_chars").cast("double")),
                                F.lit(0.0))
                     / F.first("__tc").cast("double")
                     ).alias(f"dup_{n}gram_char_frac"))
    return (
        per_kind.groupBy("__id").agg(*aggs)
        .withColumnRenamed("__id", id_col)
    )


def hashed_tf_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 256,
    hash_fn: str = "xxhash64",
    log_tf: bool = False,
    idf: bool = False,
    l2_normalize: bool = False,
    lowercase: bool = True,
    out_col: str = "features",
) -> DataFrame:
    """Hashing-trick term-frequency featurizer: text → fixed-``dim``
    dense vector, entirely in-engine (no vocabulary fit, no external
    tokenizer/model) — the feature side of ``train_logreg`` and a
    drop-in embedding substitute for the ANN/knn operators when no
    learned embeddings exist yet.

    Pipeline (all built-in expressions, no Python in the loop):
    whitespace-split → bucket = hash(token) mod dim → per-(doc, bucket)
    count with map-side partial aggregation → per-doc dense assembly via
    a bucket→count map probed over ``sequence(0, dim-1)`` (so
    ``collect_list`` order never matters).

    Shuffle story at 100 TB: token explosion happens map-side; the only
    exchanges carry ``(id, bucket, partial_count)`` then ``(id, dim
    longs)`` — document bodies never shuffle.  One scan, two narrow
    exchanges, output rows are ``dim`` numbers each.

    ``hash_fn``:
    - ``'xxhash64'`` (default): Spark's 64-bit hash — production choice.
    - ``'portable'``: a (length, first-char, last-char) mixing function
      expressible identically in ANSI SQL on any engine — collision-richer,
      meant for cross-engine reproducibility (the suite oracle) and
      auditability, same contract as ``hash_sample``'s Knuth form.

    ``log_tf`` applies ``ln(1 + tf)``; ``idf`` multiplies each bucket
    by the smoothed inverse document frequency ``ln((N + 1) / (df_b +
    1)) + 1`` (df is a second agg over the same (doc, bucket) counts —
    ``dim`` rows total, folded in as literals, no join); ``l2_normalize``
    scales to unit norm (zero vectors stay zero).  All default off so
    the base output is exact integers.

    Every distinct input id appears in the output: documents with no
    tokens (empty/whitespace-only/NULL text) get a ZERO vector rather
    than silently vanishing — so a later inner join of features to
    labels keeps all rows, and the IDF ``N`` counts ALL distinct input
    docs, tokenless ones included.
    """
    if dim <= 0:
        raise ValueError("dim must be positive")
    if hash_fn not in ("xxhash64", "portable"):
        raise ValueError("hash_fn must be 'xxhash64' or 'portable'")
    txt = f"lower({text_col})" if lowercase else text_col
    # explode_outer over the pre-filtered token array keeps tokenless
    # docs (empty/whitespace/NULL text) flowing through the SAME
    # aggregation path as one NULL-token row — so every distinct input
    # id reaches the output without a distinct+join (which costs a
    # third exchange; shuffle budget is 2)
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.explode_outer(
            F.expr(f"filter(split({txt}, '\\\\s+'), t -> t <> '')")
        ).alias("__tok"),
    )
    if hash_fn == "xxhash64":
        bucket = F.expr(f"pmod(xxhash64(__tok), {dim})")
    else:
        bucket = F.expr(
            f"pmod(CAST(length(__tok) AS BIGINT) * 1315423911"
            f" + CAST(ascii(substring(__tok, 1, 1)) AS BIGINT) * 2654435761"
            f" + CAST(ascii(substring(__tok, length(__tok), 1)) AS BIGINT)"
            f" * 97, {dim})"
        )
    # xxhash64 treats a NULL input as a no-op (returns the seed), so
    # the tokenless marker row must be nulled explicitly or it would
    # land in a real bucket
    tf = (
        toks.select(
            "__id",
            F.when(F.col("__tok").isNotNull(),
                   bucket.cast("int")).alias("__b"),
        )
        .groupBy("__id", "__b").agg(F.count("*").alias("__tf"))
    )
    cell = "CAST(coalesce(element_at(__m, b), 0) AS DOUBLE)"
    if log_tf:
        cell = f"ln(1.0 + {cell})"
    if idf:
        # one rollup job: per-bucket rows carry df; N is the distinct
        # count over ALL input ids (tokenless docs included — they get
        # zero vectors below, so they are corpus members for IDF);
        # folded in as a literal dim-array so the weighting is pure
        # codegen (no join)
        stats = tf.rollup("__b").agg(
            F.count("*").alias("df"),
            F.countDistinct("__id").alias("nd"),
            F.grouping("__b").alias("g"),
        ).collect()
        # the grand-total row carries N (every doc has a tf row now,
        # tokenless ones under the NULL bucket); GROUPING() separates
        # it from the genuine NULL-bucket group
        n_docs = 0
        dfs = [0] * dim
        for r in stats:
            if r["g"] == 1:
                n_docs = r["nd"]
            elif r["__b"] is not None:
                dfs[r["__b"]] = r["df"]
        idf_vals = ", ".join(
            repr(math.log((n_docs + 1.0) / (dfs[bk] + 1.0)) + 1.0)
            for bk in range(dim)
        )
        cell = f"({cell}) * element_at(array({idf_vals}), b + 1)"
    vec = F.expr(f"transform(sequence(0, {dim - 1}), b -> {cell})")
    # left-join the bucket maps back onto the distinct input ids so
    # tokenless docs emit zero vectors (element_at on the NULL map is
    # NULL -> coalesce 0) instead of silently dropping out
    # NULL-bucket entries (the tokenless-doc marker rows) are filtered
    # out of the map build — a tokenless doc gets an empty map, hence a
    # zero vector; map keys must be non-null anyway
    maps = tf.groupBy("__id").agg(
        F.map_from_entries(F.expr(
            "filter(collect_list(struct(__b, __tf)), "
            "s -> s.__b IS NOT NULL)")).alias("__m")
    )
    out = maps.select(F.col("__id").alias(id_col), vec.alias(out_col))
    if l2_normalize:
        nrm = (
            f"sqrt(aggregate(transform({out_col}, v -> v * v), "
            f"CAST(0 AS DOUBLE), (a, v) -> a + v))"
        )
        out = out.withColumn(
            out_col,
            F.expr(f"CASE WHEN {nrm} = 0.0 THEN {out_col} ELSE "
                   f"transform({out_col}, v -> v / {nrm}) END"),
        )
    return out


def _bm25_contributions(df: DataFrame, id_col: str, text_col: str,
                        k1: float, b: float, round_digits: int,
                        term_filter, max_df_fraction: float | None = None,
                        ) -> DataFrame:
    """Per-(doc, term) BM25 contributions ``__c`` (DECIMAL-rounded to
    ``round_digits``) keyed by ``(__id, __t)`` — the query-independent
    part shared by ``bm25_score`` and ``bm25_score_batched``.
    ``term_filter`` restricts the exploded ``(__id, __dl, __t)`` token
    rows to the scored terms; ``max_df_fraction`` drops terms with
    ``df > floor(frac·N)`` before the contribution is computed."""
    toks_expr = f"filter(split(lower(trim({text_col})), ' +'), t -> t <> '')"
    d2 = df.select(
        F.col(id_col).alias("__id"),
        F.expr(f"size({toks_expr})").alias("__dl"),
        F.expr(toks_expr).alias("__toks"),
    )
    stats = d2.agg(F.count("*").alias("__n"), F.sum("__dl").alias("__tdl"))
    toks = term_filter(
        d2.select("__id", "__dl", F.explode("__toks").alias("__t")))
    dft = F.broadcast(
        toks.select("__id", "__t").distinct().groupBy("__t").agg(
            F.count("*").alias("__df")
        )
    )
    tf = toks.groupBy("__id", "__dl", "__t").agg(F.count("*").alias("__tf"))
    contrib = (
        f"CAST(ROUND("
        f"LN(1 + (CAST(__n - __df AS DOUBLE) + 0.5) / (CAST(__df AS DOUBLE) + 0.5))"
        f" * (CAST(__tf AS DOUBLE) * ({k1!r} + 1))"
        f" / (CAST(__tf AS DOUBLE) + {k1!r} * (1 - {b!r} + {b!r} * "
        f"CAST(__dl AS DOUBLE) / (CAST(__tdl AS DOUBLE) / CAST(__n AS DOUBLE))))"
        f", {round_digits}) AS DECIMAL(28,{round_digits}))"
    )
    scored = tf.join(dft, "__t").crossJoin(F.broadcast(stats))
    if max_df_fraction is not None:
        # prune BEFORE any per-query fan-out join — that is where a
        # stopword term multiplies df(t) by |queries containing t|
        scored = scored.filter(F.expr(
            f"__df <= FLOOR({float(max_df_fraction)!r} "
            f"* CAST(__n AS DOUBLE))"
        ))
    return scored.withColumn("__c", F.expr(contrib))


def bm25_score(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    round_digits: int = 9,
) -> DataFrame:
    """Okapi BM25 relevance of every document against a bag of query
    terms — the classical sparse-retrieval baseline (and the lexical
    half of hybrid search next to the ANN operators).

    Plan: one explode restricted to query terms feeds BOTH the
    document-frequency table (|Q| rows, broadcast) and the per-(doc,
    term) tf counts; corpus stats (N, total length) are one broadcast
    row.  Per-term contributions round to ``round_digits`` and fold as
    DECIMAL, so the per-doc sum is order-independent — cross-engine
    reproducible.  Document bodies never shuffle: the moving rows are
    (id, term-hashable string, two ints).

    Returns ``(id_col, score)`` for documents matching >= 1 term."""
    return (
        _bm25_contributions(
            df, id_col, text_col, k1, b, round_digits,
            lambda toks: toks.filter(F.col("__t").isin(list(query_terms))))
        .groupBy("__id")
        .agg(F.expr("CAST(SUM(__c) AS DOUBLE)").alias("score"))
        .select(F.col("__id").alias(id_col), "score")
    )


def bm25_score_batched(
    df: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    q_id: str = "query_id",
    q_terms: str = "terms",
    k1: float = 1.2,
    b: float = 0.75,
    round_digits: int = 9,
    max_df_fraction: float | None = None,
) -> DataFrame:
    """Okapi BM25 of every document against EVERY query in ``queries``
    — the batched form of ``bm25_score`` (one query) and the lexical
    half of multi-query hybrid search next to ``knn_join``.

    ``queries`` carries ``(q_id, q_terms)`` with ``q_terms`` an
    ``array<string>``; duplicate terms within a query count once (same
    bag-of-distinct-terms semantics as ``bm25_score``'s ``isin``).

    Plan: per-(doc, term) BM25 contributions are QUERY-INDEPENDENT —
    tf, df, and length normalization never mention the query — so they
    are computed once (one doc-token explode semi-joined against the
    union of all query terms, df table broadcast), then a broadcast
    join against the distinct ``(query, term)`` pairs replicates each
    contribution to the queries containing its term, and one
    ``(query, doc)``-keyed aggregation folds the DECIMAL-rounded
    contributions.  No global window anywhere; the only shuffles are
    keyed by (doc, term) and (query, doc).

    100 TB story: document bodies never shuffle (moving rows are id +
    term + ints); the query side is broadcast (|Q|·terms rows — the
    regime where batched retrieval makes sense); output fan-out is
    ``sum_t df(t) · |queries containing t|``, linear in genuine
    matches.  That fan-out has one failure mode: STOPWORD query terms
    (df ≈ N) pair every query with nearly every document while
    contributing ~zero IDF.  ``max_df_fraction`` drops terms with
    ``df > floor(frac·N)`` from scoring — the same df-cap discipline
    as the containment operator's stop-shingle kill, and the batch
    analogue of WAND/max-score pruning; leave ``None`` for exact BM25.
    Returns ``(q_id, id_col, score)`` for (query, doc) pairs sharing
    >= 1 surviving term."""
    qpairs = queries.select(
        F.col(q_id).alias("__qid"), F.explode(q_terms).alias("__t")
    ).distinct()
    term_set = F.broadcast(qpairs.select("__t").distinct())
    return (
        _bm25_contributions(
            df, id_col, text_col, k1, b, round_digits,
            lambda toks: toks.join(term_set, "__t", "left_semi"),
            max_df_fraction)
        .join(F.broadcast(qpairs), "__t")
        .groupBy("__qid", "__id")
        .agg(F.expr("CAST(SUM(__c) AS DOUBLE)").alias("score"))
        .select(
            F.col("__qid").alias(q_id), F.col("__id").alias(id_col), "score"
        )
    )


# ------------------------------------------------------- PMI collocations

def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_k: int | None = None,
    round_digits: int = 6,
) -> DataFrame:
    """Corpus-level bigram collocations scored by pointwise mutual
    information (Church & Hanks 1990): for adjacent token pair
    ``(w1, w2)``, ``pmi = ln( (c12/Nb) / ((c1/Nt) * (c2/Nt)) )`` with
    ``c12`` the bigram count over ``Nb`` total bigrams and ``c1/c2``
    unigram counts over ``Nt`` total tokens.  High-PMI pairs are the
    multiword expressions ("los angeles", "machine learning") a
    tokenizer, a stopword list, or a quality filter wants to know
    about; the ``min_count`` floor is the standard guard against
    PMI's low-frequency bias.

    Returns ``(w1, w2, pair_count, pmi)`` — every pair with
    ``pair_count >= min_count`` (membership is integer-deterministic,
    so the result is exactly reproducible across engines), optionally
    cut to ``top_k`` by (pmi desc, w1, w2).

    Scale shape: tokens hash-explode once; bigrams come from ONE
    ``lead`` window on the doc partition (intra-document adjacency
    only — no cross-document false bigrams); unigram and bigram counts
    are each one shuffle on the gram; the unigram table joins back
    twice BROADCAST (vocabulary-sized, not corpus-sized); totals are
    one-row aggregates.  Document bodies never shuffle.

    Lifecycle note: the two count tables are cached for the call only
    and the scored table is returned as an eager ``localCheckpoint`` of
    the vocabulary-sized result (``dedup._checkpointed``, the helper
    every caching operator shares), so repeated calls in a resident
    session leave nothing cached.  The returned frame is already
    computed; transformations on it are cheap."""
    from pyspark.sql.window import Window

    # id BEFORE the generator: projected alongside posexplode it would
    # re-evaluate per exploded row, splitting every doc into 1-token
    # "documents" and producing zero bigrams
    tok = (
        df.select(
            F.monotonically_increasing_id().alias("__doc"),
            F.col(text_col).alias("__txt"),
        )
        .select(
            "__doc",
            F.posexplode(
                F.split(F.lower(F.trim(F.col("__txt"))), " +")
            ).alias("__pos", "__t"),
        )
        .filter(F.col("__t") != "")
    )
    w = Window.partitionBy("__doc").orderBy("__pos")
    big = (
        tok.withColumn("__t2", F.lead("__t", 1).over(w))
        .filter(F.col("__t2").isNotNull())
    )
    from .dedup import _checkpointed

    # uni feeds THREE consumers (the Nt scalar + two broadcast joins)
    # and pairs TWO (the Nb scalar + the scoring join): cache both —
    # they are VOCABULARY-sized, not corpus-sized — so the tokenize+
    # explode+window lineage runs once per count table instead of once
    # per consumer (same multi-consumer discipline as dsir_importance's
    # measured 2.7x)
    uni = tok.groupBy("__t").agg(F.count("*").alias("__c1"))
    pairs = big.groupBy("__t", "__t2").agg(F.count("*").alias("__c12"))

    def score():
        nt = uni.agg(F.sum("__c1").alias("nt")).collect()[0]["nt"]
        nb = pairs.agg(F.sum("__c12").alias("nb")).collect()[0]["nb"]
        return _pmi_score(uni, pairs, float(nt or 0), float(nb or 0),
                          min_count, round_digits)

    out = _checkpointed(score, uni, pairs)
    if top_k is not None:
        return out.orderBy(F.desc("pmi"), "w1", "w2").limit(int(top_k))
    return out


def _pmi_score(uni, pairs, nt, nbig, min_count, round_digits):
    return (
        pairs.filter(F.col("__c12") >= int(min_count))
        .join(F.broadcast(uni), "__t")
        .join(
            F.broadcast(
                uni.select(F.col("__t").alias("__t2"),
                           F.col("__c1").alias("__c2"))
            ),
            "__t2",
        )
        .select(
            F.col("__t").alias("w1"),
            F.col("__t2").alias("w2"),
            F.col("__c12").cast("bigint").alias("pair_count"),
            F.round(
                F.log(
                    (F.col("__c12").cast("double") / F.lit(nbig))
                    / ((F.col("__c1").cast("double") / F.lit(nt))
                       * (F.col("__c2").cast("double") / F.lit(nt)))
                ),
                round_digits,
            ).alias("pmi"),
        )
    )
