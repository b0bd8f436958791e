"""Tokenizer ENCODE and interop: BPE encode vs a sequential-pass
reference, edge documents, the zero-shuffle plan, unigram-LM byte
fallback, and HF tokenizer.json import/export."""

from __future__ import annotations

import random

import pytest


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ------------------------------------------------------------- BPE

def _rand_corpus(rng, n_docs=12, n_words=30, alpha="abcd"):
    words = ["".join(rng.choice(alpha) for _ in range(rng.randint(1, 6)))
             for _ in range(n_words)]
    return [" ".join(rng.choice(words) for _ in range(rng.randint(0, 20)))
            for _ in range(n_docs)]


def test_bpe_segment_word_equals_sequential_replace():
    """bpe_segment_word (iterative lowest-rank-present) == one
    sequential greedy pass per merge in rank order, for well-formed
    (bpe_fit-produced) merge lists — the equivalence bpe_encode rests
    on, fuzzed across corpora and merge depths."""
    import sys
    sys.path.insert(0, __file__.rsplit("/", 1)[0])
    from test_operators import _ref_bpe, _ref_bpe_encode

    from elusion_spark.operators.bpe import bpe_segment_word

    for seed in range(30):
        rng = random.Random(seed)
        texts = _rand_corpus(rng)
        merges = _ref_bpe(texts, rng.randint(1, 12))
        ranks = {(m["lft"], m["rgt"]): i for i, m in enumerate(merges)}
        for t in texts:
            for w in set(t.lower().split()):
                assert bpe_segment_word(w, ranks) == \
                    _ref_bpe_encode(w, merges), (seed, w, merges)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_bpe_word_mode_parity_with_chain(spark, seed):
    """bpe_encode == the sequential-pass reference (_ref_bpe_encode)
    bit-for-bit (tokens AND n_tokens), on randomized corpora with
    merges learned by bpe_fit itself."""
    import sys
    sys.path.insert(0, __file__.rsplit("/", 1)[0])
    from test_operators import _ref_bpe_encode

    from elusion_spark.operators.bpe import bpe_encode, bpe_fit

    rng = random.Random(100 + seed)
    texts = _rand_corpus(rng, n_docs=10)
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    merges = bpe_fit(df.select("text"), "text",
                     num_merges=rng.randint(2, 10))
    got = {r["doc_id"]: (r["tokens"], r["n_tokens"]) for r in
           bpe_encode(df, "text", merges).collect()}
    want = {}
    for i, t in enumerate(texts):
        toks = _ref_bpe_encode(t, merges)
        want[i] = (toks, len(toks))
    assert got == want


def test_bpe_word_mode_excludes_separator_words(spark):
    """Words carrying the \\x1f/\\x1e control bytes are excluded from
    the encode (part of bpe_encode's output contract)."""
    from elusion_spark.operators.bpe import bpe_encode

    df = spark.createDataFrame(
        [(1, "ab a\x1fb a\x1eb ab")], "doc_id long, text string")
    m = [{"merge_rank": 1, "lft": "a", "rgt": "b", "pair_count": 2}]
    out = bpe_encode(df, "text", m).collect()[0]
    assert out["tokens"] == ["ab", "ab"]
    assert out["n_tokens"] == 2


# ----------------------------------------------------- unigram-LM

_VOCAB = {**{c: -4.6 for c in "abct"}, "ab": -2.0, "cab": -1.5}


def _model():
    return [{"piece": p, "logprob": lp} for p, lp in _VOCAB.items()]


def test_unigram_byte_fallback(spark):
    """byte_fallback=True turns uncoverable words into <0xNN> UTF-8
    byte pieces (uppercase hex, SentencePiece surface form) that
    round-trip the original bytes; False (default) drops them; coverable
    words are untouched either way.  Multibyte UTF-8 expands per BYTE,
    not per char."""
    from elusion_spark.operators.unigram_lm import (
        byte_fallback_tokens, unigram_lm_encode)

    df = spark.createDataFrame(
        [(1, "cab xyz ab"), (2, "héé")], "doc_id long, text string")
    drop = {r["doc_id"]: r["tokens"] for r in unigram_lm_encode(
        df, "text", _model()).collect()}
    assert drop[1] == ["cab", "ab"]
    assert drop[2] == []
    keep = {r["doc_id"]: r["tokens"] for r in unigram_lm_encode(
        df, "text", _model(), byte_fallback=True).collect()}
    assert keep[1] == ["cab", "<0x78>", "<0x79>", "<0x7A>", "ab"]
    # é = 0xC3 0xA9 in UTF-8: 2 bytes per char, 1 h byte
    assert keep[2] == ["<0x68>", "<0xC3>", "<0xA9>", "<0xC3>", "<0xA9>"]
    # round-trip: the byte pieces reconstruct the original word
    toks = byte_fallback_tokens("héé")
    raw = bytes(int(t[3:5], 16) for t in toks)
    assert raw.decode("utf-8") == "héé"


def test_unigram_byte_fallback_all_words_uncoverable(spark):
    """A document made ENTIRELY of uncoverable words still encodes
    (fallback tokens must not be dropped as empty segmentations)."""
    from elusion_spark.operators.unigram_lm import unigram_lm_encode

    df = spark.createDataFrame([(7, "zz qq")], "doc_id long, text string")
    out = unigram_lm_encode(df, "text", _model(),
                            byte_fallback=True).collect()[0]
    assert out["tokens"] == ["<0x7A>", "<0x7A>", "<0x71>", "<0x71>"]


# ------------------------------------------------- model IO / interop

def test_bpe_save_load_roundtrip(tmp_path):
    from elusion_spark.operators.tokenizer_io import bpe_load, bpe_save

    merges = [{"merge_rank": 1, "lft": "a", "rgt": "b", "pair_count": 9},
              {"merge_rank": 2, "lft": "ab", "rgt": "c", "pair_count": 4}]
    p = str(tmp_path / "bpe.json")
    bpe_save(merges, p)
    assert bpe_load(p) == merges
    import pytest as _pt
    bad = str(tmp_path / "bad.json")
    open(bad, "w").write('{"format": "other"}')
    with _pt.raises(ValueError, match="BPE model"):
        bpe_load(bad)


def test_hf_export_bpe_shape(tmp_path):
    """The exported tokenizer.json carries HF's BPE fields: canonical
    'lft rgt' merge strings, a vocab that covers every base char and
    every merge output with deterministic ids, and the pinned
    WhitespaceSplit + Lowercase pipeline."""
    import json

    from elusion_spark.operators.tokenizer_io import (
        export_hf_tokenizer_json)

    merges = [{"merge_rank": 1, "lft": "a", "rgt": "b", "pair_count": 9},
              {"merge_rank": 2, "lft": "ab", "rgt": "c", "pair_count": 4}]
    p = str(tmp_path / "tokenizer.json")
    out = export_hf_tokenizer_json(p, bpe_merges=merges)
    on_disk = json.load(open(p))
    assert on_disk == out
    m = out["model"]
    assert m["type"] == "BPE"
    assert m["merges"] == ["a b", "ab c"]
    assert m["vocab"] == {"a": 0, "b": 1, "c": 2, "ab": 3, "abc": 4}
    assert out["pre_tokenizer"]["type"] == "WhitespaceSplit"
    assert out["normalizer"]["type"] == "Lowercase"
    assert export_hf_tokenizer_json(
        p, bpe_merges=merges, lowercase=False)["normalizer"] is None


def test_hf_export_unigram_shape(tmp_path):
    import json

    from elusion_spark.operators.tokenizer_io import (
        export_hf_tokenizer_json)

    model = [{"piece": "ab", "logprob": -1.5},
             {"piece": "a", "logprob": -2.5},
             {"piece": "b", "logprob": -3.0}]
    p = str(tmp_path / "uni.json")
    out = export_hf_tokenizer_json(p, unigram_model=model)
    assert out["model"]["type"] == "Unigram"
    assert out["model"]["vocab"] == [["ab", -1.5], ["a", -2.5],
                                     ["b", -3.0]]
    assert out["model"]["byte_fallback"] is False
    # byte_fallback appends all 256 byte pieces below every real piece
    out2 = export_hf_tokenizer_json(p, unigram_model=model,
                                    byte_fallback=True)
    vocab2 = out2["model"]["vocab"]
    assert len(vocab2) == 3 + 256
    assert ["<0x00>", -13.0] in [list(v) for v in vocab2]
    assert all(lp < -3.0 for _, lp in vocab2[3:])
    assert json.load(open(p)) == out2
    import pytest as _pt
    with _pt.raises(ValueError, match="exactly one"):
        export_hf_tokenizer_json(p)
    with _pt.raises(ValueError, match="exactly one"):
        export_hf_tokenizer_json(p, bpe_merges=[], unigram_model=model)


def test_hf_export_roundtrip_through_tokenizers_lib(spark, tmp_path):
    """When the `tokenizers` library is present, a from-file HF
    Tokenizer built from the export must reproduce the engine's encode
    exactly (BPE encode == HF BPE; unigram Viterbi argmax == HF
    Unigram up to score ties).  Gated: the lib is not in this
    container."""
    import pytest as _pt
    tokenizers = _pt.importorskip("tokenizers")

    from elusion_spark.operators.bpe import bpe_encode, bpe_fit
    from elusion_spark.operators.tokenizer_io import (
        export_hf_tokenizer_json)

    texts = ["the cat sat on the mat", "a cat ate the hat"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    merges = bpe_fit(df.select("text"), "text", num_merges=6)
    p = str(tmp_path / "tokenizer.json")
    export_hf_tokenizer_json(p, bpe_merges=merges)
    tok = tokenizers.Tokenizer.from_file(p)
    ours = {r["doc_id"]: r["tokens"] for r in
            bpe_encode(df, "text", merges).collect()}
    for i, t in enumerate(texts):
        assert tok.encode(t).tokens == ours[i], t


# ------------------------------------------ edge docs and plan shape

def test_three_mode_parity_with_edge_docs(spark):
    """Literal tokens on tab/newline-separated words, a U+00A0
    (non-ASCII whitespace) doc, a null, a blank doc and control-byte
    words — the encode must split on Java's ASCII \\s class, not
    python's unicode split, or doc 2 ('ab\\xa0cd') would tokenize as
    two words."""
    from elusion_spark.operators.bpe import bpe_encode

    docs = [(1, "ab\tcd  ab\nxy"), (2, "ab\xa0cd"), (3, None),
            (4, " "), (5, "a\x1fb a\x1eb ab")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    m = [{"merge_rank": 1, "lft": "a", "rgt": "b", "pair_count": 2}]
    got = {r["doc_id"]: (r["tokens"], r["n_tokens"]) for r in
           bpe_encode(df, "text", m).collect()}
    assert got == {
        1: (["ab", "c", "d", "ab", "x", "y"], 6),
        2: (["ab", "\xa0", "c", "d"], 4),          # ONE word
        3: ([], 0),
        4: ([], 0),
        5: (["ab"], 1),
    }


def test_map_mode_is_zero_shuffle(spark):
    """Both encoders' whole plan is scan -> mapInPandas -> sink: no
    Exchange anywhere (the 100 TB shape).  A 300-merge list — past the
    ~256-node depth where a chained-replace Column expression overflowed
    Catalyst's stack — encodes and matches the sequential-pass
    reference."""
    import sys
    sys.path.insert(0, __file__.rsplit("/", 1)[0])
    from test_operators import _ref_bpe_encode

    from elusion_spark.operators.bpe import bpe_encode
    from elusion_spark.operators.scale import explain_shuffles
    from elusion_spark.operators.unigram_lm import unigram_lm_encode

    df = spark.createDataFrame([(1, "ab ab")], "doc_id long, text string")
    m = [{"merge_rank": 1, "lft": "a", "rgt": "b", "pair_count": 2}]
    for enc in (bpe_encode(df, "text", m),
                unigram_lm_encode(df, "text", _model())):
        assert explain_shuffles(enc) == 0
        assert "MapInPandas" in _plan(enc)
    # a well-formed 300-merge list: a left-deep chain a+b, ab+b,
    # abb+b, ... (each pair's left is the previous output)
    big, sym = [], "a"
    for i in range(300):
        big.append({"merge_rank": i + 1, "lft": sym, "rgt": "b",
                    "pair_count": 1})
        sym += "b"
    text = "a" + "b" * 302 + " abbb ba " + "a" + "b" * 150
    deep = spark.createDataFrame([(1, text)], "doc_id long, text string")
    enc = bpe_encode(deep, "text", big)
    assert explain_shuffles(enc) == 0
    row = enc.collect()[0]
    want = _ref_bpe_encode(text, big)
    assert row["tokens"] == want and row["n_tokens"] == len(want)
    assert want[0] == "a" + "b" * 300 and len(want) == 7


def test_unigram_map_mode_parity(spark):
    """unigram_lm_encode with byte fallback: literal tokens for
    coverable words, an empty doc and an uncoverable word."""
    from elusion_spark.operators.unigram_lm import unigram_lm_encode

    df = spark.createDataFrame(
        [(1, "ab cab abab"), (2, ""), (3, "ta xq cab")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["tokens"] for r in unigram_lm_encode(
        df, "text", _model(), byte_fallback=True).collect()}
    assert got == {1: ["ab", "cab", "ab", "ab"], 2: [],
                   3: ["t", "a", "<0x78>", "<0x71>", "cab"]}


def test_map_mode_tokenizes_streams(spark, tmp_path):
    """The encode is STATELESS (one mapInPandas, no aggregation), so
    both tokenizers run unchanged on a streaming DataFrame.  Stream ==
    batch, exactly."""
    from elusion_spark.operators.bpe import bpe_encode
    from elusion_spark.operators.unigram_lm import unigram_lm_encode

    docs = [(i, t) for i, t in enumerate(
        ["ab ab cd", "cab ab", "", "xq ab"])]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    src = str(tmp_path / "tok_src")
    df.coalesce(2).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))

    m = [{"merge_rank": 1, "lft": "a", "rgt": "b", "pair_count": 3}]
    enc_s = bpe_encode(stream, "text", m)
    assert enc_s.isStreaming
    name = "tok_stream_mem"
    q = (enc_s.writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(60)
    q.stop()
    got = {r["doc_id"]: (r["tokens"], r["n_tokens"])
           for r in spark.table(name).collect()}
    want = {r["doc_id"]: (r["tokens"], r["n_tokens"])
            for r in bpe_encode(df, "text", m).collect()}
    assert got == want

    u = unigram_lm_encode(stream, "text", _model(), byte_fallback=True)
    assert u.isStreaming


def test_hf_import_roundtrip_without_lib(tmp_path):
    """import(export(model)) == model, for both kinds, with lowercase
    and byte_fallback faithfully carried; unsupported shapes raise."""
    import json

    from elusion_spark.operators.tokenizer_io import (
        export_hf_tokenizer_json, import_hf_tokenizer_json)

    merges = [{"merge_rank": 1, "lft": "a", "rgt": "b", "pair_count": 9},
              {"merge_rank": 2, "lft": "ab", "rgt": "c", "pair_count": 4}]
    p = str(tmp_path / "t.json")
    export_hf_tokenizer_json(p, bpe_merges=merges)
    got = import_hf_tokenizer_json(p)
    assert got["kind"] == "bpe" and got["lowercase"] is True
    assert [(m["lft"], m["rgt"], m["merge_rank"]) for m in got["merges"]] \
        == [("a", "b", 1), ("ab", "c", 2)]

    model = [{"piece": "ab", "logprob": -1.5},
             {"piece": "a", "logprob": -2.5}]
    export_hf_tokenizer_json(p, unigram_model=model, lowercase=False,
                             byte_fallback=True)
    got = import_hf_tokenizer_json(p)
    assert got["kind"] == "unigram" and got["lowercase"] is False
    assert got["byte_fallback"] is True
    assert got["model"][:2] == model            # byte pieces appended after
    assert got["model"][2]["piece"].startswith("<0x")

    # pair-form merges (newer HF writes ["a", "b"] lists)
    d = json.load(open(p))
    d["model"] = {"type": "BPE", "merges": [["a", "b"]], "vocab": {}}
    json.dump(d, open(p, "w"))
    assert import_hf_tokenizer_json(p)["merges"][0]["lft"] == "a"

    import pytest as _pt
    d["normalizer"] = {"type": "NFKC"}
    json.dump(d, open(p, "w"))
    with _pt.raises(ValueError, match="normalizer"):
        import_hf_tokenizer_json(p)
    d["normalizer"] = None
    # WordPiece imports since round 9; WordLevel remains unsupported
    d["model"] = {"type": "WordLevel"}
    json.dump(d, open(p, "w"))
    with _pt.raises(ValueError, match="model type"):
        import_hf_tokenizer_json(p)


def test_hf_import_drives_engine_encode(spark, tmp_path):
    """End-to-end interop: export an engine-trained model, import it
    back, and encode with the round-tripped merges — identical tokens
    to the original model (the 'run a published tokenizer at scale'
    path, minus the external file)."""
    from elusion_spark.operators.bpe import bpe_encode, bpe_fit
    from elusion_spark.operators.tokenizer_io import (
        export_hf_tokenizer_json, import_hf_tokenizer_json)

    df = spark.createDataFrame(
        [(1, "the cat sat"), (2, "a cat ate")], "doc_id long, text string")
    merges = bpe_fit(df.select("text"), "text", num_merges=5)
    p = str(tmp_path / "t.json")
    export_hf_tokenizer_json(p, bpe_merges=merges)
    imp = import_hf_tokenizer_json(p)
    a = {r["doc_id"]: r["tokens"] for r in bpe_encode(
        df, "text", merges).collect()}
    b = {r["doc_id"]: r["tokens"] for r in bpe_encode(
        df, "text", imp["merges"], lowercase=imp["lowercase"]).collect()}
    assert a == b


# --------------------------------------- HF pre-tokenizers (round 9)

def test_gpt2_word_pieces_hand_verified():
    """The GPT-2 regex emulation against hand-verified splits:
    contraction precedence only at match start, greedy other-runs
    consuming later apostrophes, a space-preceded apostrophe joining
    the other-run (NOT the contraction), case-sensitive contraction
    literals, unicode letters staying one run."""
    from elusion_spark.operators.tokenizer_io import gpt2_word_pieces

    cases = [
        ("don't", ["don", "'t"]),
        (" don't.", [" don", "'t", "."]),
        ("'s", ["'s"]),
        (" 's", [" '", "s"]),
        ("abc123!!", ["abc", "123", "!!"]),
        (" abc123!!", [" abc", "123", "!!"]),
        ("x''s", ["x", "''", "s"]),
        ("DON'T", ["DON", "'", "T"]),
        ("été", ["été"]),
        (" été9", [" été", "9"]),
        ("we'll", ["we", "'ll"]),
        ("o'clock", ["o", "'", "clock"]),
    ]
    for s, exp in cases:
        assert gpt2_word_pieces(s) == exp, (s, gpt2_word_pieces(s), exp)


def test_bytes_to_unicode_table():
    """GPT-2 byte table invariants: printable ASCII maps to itself,
    space->Ġ (U+0120), newline->Ċ, the map is a bijection over 256."""
    from elusion_spark.operators.tokenizer_io import _bytes_to_unicode

    b2u = _bytes_to_unicode()
    assert len(b2u) == 256 and len(set(b2u.values())) == 256
    assert b2u[ord("a")] == "a" and b2u[ord("!")] == "!"
    assert b2u[32] == "Ġ" and b2u[10] == "Ċ"


def test_parse_hf_pre_tokenizer_contract():
    """Replayable specs normalize; everything else raises LOUDLY
    (ADVICE r8 #1: a silently-accepted ByteLevel file used to encode
    wrongly — now nothing unreplayable gets through import)."""
    import pytest as _pt

    from elusion_spark.operators.tokenizer_io import (
        parse_hf_pre_tokenizer)

    assert parse_hf_pre_tokenizer(None) == {"type": "whitespace"}
    assert parse_hf_pre_tokenizer(
        {"type": "WhitespaceSplit"}) == {"type": "whitespace"}
    bl = parse_hf_pre_tokenizer(
        {"type": "ByteLevel", "add_prefix_space": False,
         "trim_offsets": True, "use_regex": True})
    assert bl == {"type": "byte_level", "add_prefix_space": False,
                  "use_regex": True}
    ms = parse_hf_pre_tokenizer(
        {"type": "Metaspace", "replacement": "▁",
         "prepend_scheme": "first"})
    assert ms == {"type": "metaspace", "replacement": "▁",
                  "prepend_first": True}
    # legacy add_prefix_space bool maps to a scheme
    assert parse_hf_pre_tokenizer(
        {"type": "Metaspace", "add_prefix_space": False}
    )["prepend_first"] is False
    # round 9: Whitespace (regex form) and BertPreTokenizer parse too
    assert parse_hf_pre_tokenizer(
        {"type": "Whitespace"}) == {"type": "hf_whitespace"}
    assert parse_hf_pre_tokenizer(
        {"type": "BertPreTokenizer"})["type"] == "bert"
    for bad in ({"type": "Sequence", "pretokenizers": []},
                {"type": "Digits"}, {"type": "Punctuation"},
                {"type": "Split"}):
        with _pt.raises(ValueError):
            parse_hf_pre_tokenizer(bad)


def test_hf_import_added_tokens_policy(tmp_path):
    """Special added tokens are surfaced (not applied — corpus text is
    literal); a special=false added token raises (it would change how
    ordinary text tokenizes, which the engine does not replay)."""
    import json

    import pytest as _pt

    from elusion_spark.operators.tokenizer_io import (
        import_hf_tokenizer_json)

    d = {"version": "1.0", "normalizer": None, "pre_tokenizer": None,
         "added_tokens": [
             {"id": 0, "content": "<|endoftext|>", "special": True}],
         "model": {"type": "BPE", "vocab": {"a": 0},
                   "merges": ["a b"]}}
    p = str(tmp_path / "t.json")
    json.dump(d, open(p, "w"))
    got = import_hf_tokenizer_json(p)
    assert got["special_tokens"] == ["<|endoftext|>"]
    d["added_tokens"].append(
        {"id": 1, "content": "customword", "special": False})
    json.dump(d, open(p, "w"))
    with _pt.raises(ValueError, match="special=false"):
        import_hf_tokenizer_json(p)


def test_hf_import_rejects_bytelevel_silently_no_more(tmp_path):
    """The r8 correctness trap, closed from the other side: a GPT-2
    style ByteLevel file now IMPORTS (it is replayable) and carries
    the parsed spec; an exotic pre_tokenizer (Sequence) raises at
    import instead of encoding wrongly later."""
    import json

    import pytest as _pt

    from elusion_spark.operators.tokenizer_io import (
        import_hf_tokenizer_json)

    d = {"version": "1.0", "normalizer": None,
         "pre_tokenizer": {"type": "ByteLevel",
                           "add_prefix_space": False,
                           "trim_offsets": True, "use_regex": True},
         "added_tokens": [],
         "model": {"type": "BPE", "vocab": {},
                   "merges": ["Ġ t", "h e"]}}
    p = str(tmp_path / "t.json")
    json.dump(d, open(p, "w"))
    got = import_hf_tokenizer_json(p)
    assert got["pre_tokenizer"]["type"] == "byte_level"
    d["pre_tokenizer"] = {"type": "Sequence", "pretokenizers": [
        {"type": "WhitespaceSplit"}, {"type": "Digits"}]}
    json.dump(d, open(p, "w"))
    with _pt.raises(ValueError, match="pre_tokenizer"):
        import_hf_tokenizer_json(p)


def test_hf_bytelevel_encode_hand_computed(spark, tmp_path):
    """End-to-end ByteLevel BPE through hf_tokenizer_encode against
    hand-computed GPT-2 semantics: mid-document words carry Ġ, the
    document-initial word does not (add_prefix_space=false),
    contractions split before merging, merges over the byte-level
    alphabet apply by rank."""
    import json

    from elusion_spark.operators.tokenizer_io import (
        hf_tokenizer_encode, import_hf_tokenizer_json)

    # merges over byte-level symbols: "Ġt h" is deliberately absent so
    # "Ġthe" stays ["Ġt","he"]; "t h" never fires mid-word because Ġt
    # merges first on mid-document "the"
    d = {"version": "1.0", "normalizer": None,
         "pre_tokenizer": {"type": "ByteLevel",
                           "add_prefix_space": False,
                           "use_regex": True},
         "added_tokens": [],
         "model": {"type": "BPE", "vocab": {},
                   "merges": ["Ġ t", "h e", "t h"]}}
    p = str(tmp_path / "t.json")
    json.dump(d, open(p, "w"))
    model = import_hf_tokenizer_json(p)
    df = spark.createDataFrame(
        [(1, "the theme isn't thin"), (2, "hello")],
        "doc_id long, text string")
    out = {r["doc_id"]: r["tokens"] for r in
           hf_tokenizer_encode(df, "text", model).collect()}
    # doc 1: "the" initial, no Ġ: t+h+e -> th,e ("t h" fires, "h e"
    # first? rank: Ġt(0) he(1) th(2): "the" -> pairs (t,h),(h,e):
    # he wins (rank 1) -> t,he ; (t,he) absent -> ["t","he"]
    assert out[1][0:2] == ["t", "he"]
    # " theme": Ġ+t+h+e+m+e -> Ġt (rank0) -> Ġt,h,e,m,e -> he(1) ->
    # Ġt,he,m,e ; no more -> ["Ġt","he","m","e"]
    assert out[1][2:6] == ["Ġt", "he", "m", "e"]
    # " isn't" -> pieces " isn","'t" -> Ġ,i,s,n + ',t (no merges hit
    # except none) -> ["Ġ","i","s","n","'","t"]
    assert out[1][6:12] == ["Ġ", "i", "s", "n", "'", "t"]
    # " thin": Ġt -> Ġt,h,i,n (he can't fire: no e)
    assert out[1][12:] == ["Ġt", "h", "i", "n"]
    # doc 2: initial word, no prefix: h+e -> he -> ["he","l","l","o"]
    assert out[2] == ["he", "l", "l", "o"]


def test_hf_metaspace_encode_schemes(spark, tmp_path):
    """Metaspace prepend schemes: 'always'/'first' mark every word
    (incl. the initial one); 'never' leaves the document-initial word
    bare; replacement char is configurable; unigram models get the
    same treatment (Viterbi over ▁-prefixed pre-tokens)."""
    import json

    from elusion_spark.operators.tokenizer_io import (
        hf_tokenizer_encode, import_hf_tokenizer_json)

    def mk(scheme, model):
        d = {"version": "1.0", "normalizer": None,
             "pre_tokenizer": {"type": "Metaspace", "replacement": "▁",
                               "prepend_scheme": scheme},
             "added_tokens": [], "model": model}
        p = str(tmp_path / f"m_{scheme}_{model['type']}.json")
        json.dump(d, open(p, "w"))
        return import_hf_tokenizer_json(p)

    df = spark.createDataFrame([(1, "ab ab")], "doc_id long, text string")
    bpe = {"type": "BPE", "vocab": {},
           "merges": ["▁ a", "▁a b", "a b"]}
    out_a = hf_tokenizer_encode(df, "text", mk("always", bpe)).collect()
    assert out_a[0]["tokens"] == ["▁ab", "▁ab"]
    out_n = hf_tokenizer_encode(df, "text", mk("never", bpe)).collect()
    assert out_n[0]["tokens"] == ["ab", "▁ab"]
    uni = {"type": "Unigram", "unk_id": None, "byte_fallback": False,
           "vocab": [["▁ab", -1.0], ["▁", -3.0], ["a", -3.5],
                     ["b", -3.5], ["ab", -2.0]]}
    out_u = hf_tokenizer_encode(df, "text", mk("never", uni)).collect()
    assert out_u[0]["tokens"] == ["ab", "▁ab"]


def test_hf_bytelevel_roundtrip_through_tokenizers_lib(spark, tmp_path):
    """When the `tokenizers` library is present: a real ByteLevel BPE
    and a Metaspace BPE file must encode single-space-separated text
    token-for-token identically through hf_tokenizer_encode and
    through tokenizers.Tokenizer (the whitespace-run divergence is out
    of scope by construction of the fixture).  Gated: the lib is not
    baked into this container."""
    import json

    import pytest as _pt
    tokenizers = _pt.importorskip("tokenizers")

    from elusion_spark.operators.tokenizer_io import (
        hf_tokenizer_encode, import_hf_tokenizer_json)

    texts = ["the cat isn't on the mat!", "Numbers 123 and x''s end"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    # byte-level file with a usable vocab (HF requires in-vocab sides)
    from elusion_spark.operators.tokenizer_io import _bytes_to_unicode
    b2u = _bytes_to_unicode()
    alphabet = sorted({b2u[b] for t in texts for b in t.encode()})
    merges = ["Ġ t", "h e", "Ġt he", "a t"]
    vocab = {s: i for i, s in enumerate(alphabet)}
    for m in merges:
        l, r = m.split(" ")
        for s in (l, r, l + r):
            if s not in vocab:
                vocab[s] = len(vocab)
    d = {"version": "1.0", "normalizer": None,
         "pre_tokenizer": {"type": "ByteLevel",
                           "add_prefix_space": False,
                           "use_regex": True},
         "added_tokens": [],
         "model": {"type": "BPE", "unk_token": None, "vocab": vocab,
                   "merges": merges}}
    p = str(tmp_path / "bl.json")
    json.dump(d, open(p, "w"))
    tok = tokenizers.Tokenizer.from_file(p)
    model = import_hf_tokenizer_json(p)
    ours = {r["doc_id"]: r["tokens"] for r in
            hf_tokenizer_encode(df, "text", model).collect()}
    for i, t in enumerate(texts):
        assert ours[i] == tok.encode(t).tokens, t


def test_bpe_fit_pretokenized_metaspace(spark):
    """bpe_fit(pre_tokenizer=Metaspace) == exact Sennrich over the
    ▁-marked vocabulary — verified by replaying the python reference
    on texts whose words are ▁-prefixed by hand."""
    from tests.test_operators import _ref_bpe

    from elusion_spark.operators.bpe import bpe_fit

    texts = ["the cat sat on the mat", "a cat ate the hat aaaa"]
    marked = [" ".join("▁" + w for w in t.lower().split())
              for t in texts]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    spec = {"type": "Metaspace", "replacement": "▁",
            "prepend_scheme": "always"}
    got = bpe_fit(df, "text", num_merges=6, pre_tokenizer=spec)
    assert got == _ref_bpe(marked, 6, lowercase=False)


def test_bpe_fit_pretokenized_bytelevel(spark):
    """bpe_fit(pre_tokenizer=ByteLevel) trains over the GPT-2
    byte-alphabet pieces of the space-preceded words (contractions and
    punctuation split off, Ġ marker on the word head) — replayed by
    transforming each word with the same mid-document transform and
    running the python reference on the piece stream."""
    from tests.test_operators import _ref_bpe

    from elusion_spark.operators.bpe import bpe_fit
    from elusion_spark.operators.tokenizer_io import (
        make_pre_word_transforms, parse_hf_pre_tokenizer)

    texts = ["The cat isn't on the mat!", "don't trust the cat 123"]
    spec_hf = {"type": "ByteLevel", "add_prefix_space": False,
               "use_regex": True}
    mid_fn, _ = make_pre_word_transforms(parse_hf_pre_tokenizer(spec_hf))
    piece_texts = [" ".join(p for w in t.lower().split()
                            for p in mid_fn(w)) for t in texts]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = bpe_fit(df, "text", num_merges=8, pre_tokenizer=spec_hf)
    assert got == _ref_bpe(piece_texts, 8, lowercase=False)
    # merges live in byte-level space: the word marker is Ġ
    assert any("Ġ" in m["lft"] + m["rgt"] for m in got)


def test_pretokenized_fit_export_import_encode_roundtrip(spark, tmp_path):
    """The full published-format lifecycle: fit in Metaspace space →
    export with the matching pre_tokenizer block + alphabet → import →
    hf_tokenizer_encode.  The encode must equal segmenting each
    ▁-marked word with the learned ranks directly (the engine's own
    bpe_segment_word), i.e. the exported file fully describes the
    trained tokenizer."""
    from elusion_spark.operators.bpe import (bpe_fit, bpe_segment_word,
                                             bpe_word_counts,
                                             pretokenize_word_counts)
    from elusion_spark.operators.tokenizer_io import (
        export_hf_tokenizer_json, hf_tokenizer_encode,
        import_hf_tokenizer_json)

    texts = ["the cat sat on the mat", "a cat ate the hat"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    spec = {"type": "Metaspace", "replacement": "▁",
            "prepend_scheme": "always"}
    merges = bpe_fit(df.select("text"), "text", num_merges=6,
                     pre_tokenizer=spec)
    wc = pretokenize_word_counts(
        bpe_word_counts(df.select("text"), "text"), spec)
    alphabet = {c for r in wc.collect() for c in r["word"]}
    p = str(tmp_path / "ms.json")
    export_hf_tokenizer_json(p, bpe_merges=merges, alphabet=alphabet,
                             pre_tokenizer=spec)
    model = import_hf_tokenizer_json(p)
    assert model["pre_tokenizer"] == {
        "type": "metaspace", "replacement": "▁", "prepend_first": True}
    enc = {r["doc_id"]: r["tokens"] for r in
           hf_tokenizer_encode(df, "text", model).collect()}
    ranks = {(m["lft"], m["rgt"]): i for i, m in enumerate(merges)}
    for i, t in enumerate(texts):
        want = [tok for w in t.lower().split()
                for tok in bpe_segment_word("▁" + w, ranks)]
        assert enc[i] == want, (i, enc[i], want)
    # exported alphabet covers every corpus character (ADVICE r8 #2)
    import json
    vocab = json.load(open(p))["model"]["vocab"]
    assert alphabet <= set(vocab)


def test_hf_bpe_vocab_unk_and_ignore_merges(spark, tmp_path):
    """Foreign-file BPE semantics (round 9, char-order fixed per
    ADVICE r9 #1): with a restricted vocab, unknown CHARACTERS are
    filtered BEFORE merges run — HF's merge_word order — so under
    unk_token=None the surviving neighbors of a dropped char can merge
    ('axb' with vocab {a,b,ab} and merge 'a b' → ['ab'], exactly HF);
    under an explicit unk the unknown char becomes the unk symbol IN
    the pre-merge sequence (blocking the a·b adjacency in 'axb');
    fuse_unk collapses ADJACENT unknowns into one unk; ignore_merges=
    true emits an in-vocab pre-token whole without running merges (the
    Llama-3 family's direct-vocab tokens)."""
    import json

    from elusion_spark.operators.tokenizer_io import (
        hf_tokenizer_encode, import_hf_tokenizer_json)

    def enc(d, text):
        p = str(tmp_path / "v.json")
        json.dump(d, open(p, "w"))
        model = import_hf_tokenizer_json(p)
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        return hf_tokenizer_encode(df, "text", model).collect()[0]["tokens"]

    base = {"version": "1.0", "normalizer": None,
            "pre_tokenizer": {"type": "WhitespaceSplit"},
            "added_tokens": [],
            "model": {"type": "BPE", "unk_token": None,
                      "ignore_merges": False,
                      "vocab": {"a": 0, "b": 1, "ab": 2},
                      "merges": ["a b"]}}
    # 'c' and 'x' are out-of-vocab: dropped BEFORE merging, so the
    # surviving a·b in BOTH words merges (HF merge_word order)
    assert enc(base, "cab axb") == ["ab", "ab"]
    # ...mapped under an explicit unk: the unk symbol sits between a
    # and b in 'axb', so that pair never becomes adjacent
    base["model"]["unk_token"] = "<unk>"
    base["model"]["vocab"]["<unk>"] = 3
    assert enc(base, "cab axb") == ["<unk>", "ab", "a", "<unk>", "b"]
    # fuse_unk: ADJACENT unknowns collapse into one unk symbol
    base["model"]["fuse_unk"] = True
    assert enc(base, "cxxa") == ["<unk>", "a"]
    base["model"]["fuse_unk"] = False
    assert enc(base, "cxxa") == ["<unk>", "<unk>", "<unk>", "a"]
    # ignore_merges: whole pre-token in vocab short-circuits merging
    base["model"]["vocab"]["axb"] = 4
    base["model"]["ignore_merges"] = True
    assert enc(base, "cab axb") == ["<unk>", "ab", "axb"]
    # engine-round-trip files are unaffected: empty vocab = no filter
    base["model"] = {"type": "BPE", "vocab": {}, "merges": ["a b"]}
    assert enc(base, "cab axb") == ["c", "ab", "a", "x", "b"]


def test_hf_bpe_restricted_vocab_roundtrip_vs_tokenizers_lib(
        spark, tmp_path):
    """Gated: the restricted-vocab drop path (unk=None, a char missing
    from the vocab) against the real ``tokenizers`` library — the
    branch the full-alphabet gated test never exercises (ADVICE r9
    #1)."""
    import json

    import pytest

    tokenizers = pytest.importorskip("tokenizers")
    from elusion_spark.operators.tokenizer_io import (
        hf_tokenizer_encode, import_hf_tokenizer_json)

    d = {"version": "1.0", "normalizer": None,
         "pre_tokenizer": {"type": "WhitespaceSplit"},
         "added_tokens": [],
         "model": {"type": "BPE", "dropout": None, "unk_token": None,
                   "continuing_subword_prefix": None,
                   "end_of_word_suffix": None, "fuse_unk": False,
                   "byte_fallback": False, "ignore_merges": False,
                   "vocab": {"a": 0, "b": 1, "c": 2, "ab": 3, "abc": 4},
                   "merges": ["a b", "ab c"]}}
    p = str(tmp_path / "rv.json")
    json.dump(d, open(p, "w"))
    tok = tokenizers.Tokenizer.from_file(p)
    model = import_hf_tokenizer_json(p)
    texts = ["axbc", "abxc", "xxabc", "abcx", "axxb cxa"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {r["doc_id"]: r["tokens"]
           for r in hf_tokenizer_encode(df, "text", model).collect()}
    for i, t in enumerate(texts):
        want = [tok2 for w in t.split()
                for tok2 in tok.encode(w).tokens]
        assert got[i] == want, (t, got[i], want)


def test_hf_whitespace_and_bert_word_transforms():
    """Round-9 pre-tokenizers, pure-python hand checks: Whitespace
    (regex \\w+|[^\\w\\s]+) alternates word-char/other runs with
    underscore counting as a word char; the BERT transform isolates
    every punctuation char, optionally each CJK ideograph, and can
    strip accents via NFD."""
    from elusion_spark.operators.tokenizer_io import (
        _hf_whitespace_pieces, _make_bert_word_transform)

    assert _hf_whitespace_pieces("don't.") == ["don", "'", "t", "."]
    assert _hf_whitespace_pieces("abc_12") == ["abc_12"]
    assert _hf_whitespace_pieces("a-b--c") == ["a", "-", "b", "--", "c"]
    assert _hf_whitespace_pieces("!!!") == ["!!!"]

    bert = _make_bert_word_transform(
        {"clean_text": False, "cjk": False, "strip_accents": False})
    assert bert("hello!") == ["hello", "!"]
    assert bert("don't") == ["don", "'", "t"]
    assert bert("a,b.c") == ["a", ",", "b", ".", "c"]
    bert_cjk = _make_bert_word_transform(
        {"clean_text": False, "cjk": True, "strip_accents": True})
    assert bert_cjk("ab中c") == ["ab", "中", "c"]
    assert bert_cjk("héllo") == ["hello"]


def test_hf_wordpiece_bert_file_end_to_end(spark, tmp_path):
    """A full BERT-family tokenizer.json (BertNormalizer +
    BertPreTokenizer + WordPiece) imports and encodes with exact HF
    semantics: greedy longest-match with ## continuations, whole-word
    [UNK] on any miss, punctuation isolated, lowercase from the
    normalizer."""
    import json

    from elusion_spark.operators.tokenizer_io import (
        hf_tokenizer_encode, import_hf_tokenizer_json)

    vocab = ["[UNK]", "un", "##aff", "##able", "the", "cat", "!",
             "run", "##ning"]
    d = {"version": "1.0",
         "normalizer": {"type": "BertNormalizer", "clean_text": True,
                        "handle_chinese_chars": True,
                        "strip_accents": None, "lowercase": True},
         "pre_tokenizer": {"type": "BertPreTokenizer"},
         "added_tokens": [],
         "model": {"type": "WordPiece", "unk_token": "[UNK]",
                   "continuing_subword_prefix": "##",
                   "max_input_chars_per_word": 100,
                   "vocab": {v: i for i, v in enumerate(vocab)}}}
    p = str(tmp_path / "bert.json")
    json.dump(d, open(p, "w"))
    model = import_hf_tokenizer_json(p)
    assert model["kind"] == "wordpiece" and model["lowercase"] is True
    assert model["pre_tokenizer"]["type"] == "bert"
    assert model["pre_tokenizer"]["strip_accents"] is True  # follows lc
    df = spark.createDataFrame(
        [(1, "The unaffable cat! runs unaffordable running")],
        "doc_id long, text string")
    out = hf_tokenizer_encode(df, "text", model).collect()[0]
    assert out["tokens"] == [
        "the", "un", "##aff", "##able", "cat", "!",
        "[UNK]",                      # "runs": no "##s" piece
        "[UNK]",                      # "unaffordable": miss mid-word
        "run", "##ning"]
    assert out["n_tokens"] == 10


def test_hf_llama_metaspace_normalizer_import(spark, tmp_path):
    """Real Llama-1/2 SentencePiece conversions carry metaspace as a
    normalizer Sequence([Prepend ▁, Replace ' '→▁]) with a null
    pre_tokenizer — the import maps it to the Metaspace per-word
    transform and a Unigram encode runs end-to-end."""
    import json

    from elusion_spark.operators.tokenizer_io import (
        hf_tokenizer_encode, import_hf_tokenizer_json)

    d = {"version": "1.0",
         "normalizer": {"type": "Sequence", "normalizers": [
             {"type": "Prepend", "prepend": "▁"},
             {"type": "Replace", "pattern": {"String": " "},
              "content": "▁"}]},
         "pre_tokenizer": None, "added_tokens": [],
         "model": {"type": "Unigram", "unk_id": None,
                   "byte_fallback": False,
                   "vocab": [["▁ab", -1.0], ["▁", -3.0], ["a", -3.5],
                             ["b", -3.5], ["ab", -2.0]]}}
    p = str(tmp_path / "llama.json")
    json.dump(d, open(p, "w"))
    model = import_hf_tokenizer_json(p)
    assert model["pre_tokenizer"] == {
        "type": "metaspace", "replacement": "▁", "prepend_first": True}
    assert model["lowercase"] is False
    df = spark.createDataFrame([(1, "ab ab")], "doc_id long, text string")
    out = hf_tokenizer_encode(df, "text", model).collect()[0]
    assert out["tokens"] == ["▁ab", "▁ab"]
    # an explicit pre_tokenizer alongside the metaspace normalizer is
    # an unsupported combination — loud, not silent
    import pytest as _pt
    d["pre_tokenizer"] = {"type": "WhitespaceSplit"}
    json.dump(d, open(p, "w"))
    with _pt.raises(ValueError, match="unsupported combination"):
        import_hf_tokenizer_json(p)


def test_hf_bert_wordpiece_through_tokenizers_lib(spark, tmp_path):
    """Gated: the BERT-family import must match tokenizers.Tokenizer
    token-for-token on single-space text, and the Whitespace(regex)
    BPE path likewise."""
    import json

    import pytest as _pt
    tokenizers = _pt.importorskip("tokenizers")

    from elusion_spark.operators.tokenizer_io import (
        hf_tokenizer_encode, import_hf_tokenizer_json)

    texts = ["The unaffable cat! runs, héllo don't", "a-b 123 running"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    vocab = ["[UNK]", "un", "##aff", "##able", "the", "cat", "!", ",",
             "run", "##ning", "a", "b", "-", "'", "hello", "don", "t",
             "##2", "1", "##3", "runs"]
    d = {"version": "1.0",
         "normalizer": {"type": "BertNormalizer", "clean_text": True,
                        "handle_chinese_chars": True,
                        "strip_accents": None, "lowercase": True},
         "pre_tokenizer": {"type": "BertPreTokenizer"},
         "added_tokens": [],
         "model": {"type": "WordPiece", "unk_token": "[UNK]",
                   "continuing_subword_prefix": "##",
                   "max_input_chars_per_word": 100,
                   "vocab": {v: i for i, v in enumerate(vocab)}}}
    p = str(tmp_path / "bert.json")
    json.dump(d, open(p, "w"))
    tok = tokenizers.Tokenizer.from_file(p)
    model = import_hf_tokenizer_json(p)
    ours = {r["doc_id"]: r["tokens"] for r in
            hf_tokenizer_encode(df, "text", model).collect()}
    for i, t in enumerate(texts):
        assert ours[i] == tok.encode(t).tokens, t


def test_leading_whitespace_first_word_is_space_preceded(spark, tmp_path):
    """ADVICE r9 #2: a document that STARTS with whitespace has its
    first surviving word space-preceded in the original text, so
    position-sensitive pre-tokenizers must treat it as mid-document:
    ByteLevel add_prefix_space=False keeps the Ġ marker (' hello' →
    ['Ġhello'], HF-exact), Metaspace prepend_scheme='never' keeps the
    ▁."""
    import json

    from elusion_spark.operators.tokenizer_io import (
        hf_tokenizer_encode, import_hf_tokenizer_json)

    def enc(pre, texts):
        d = {"version": "1.0", "normalizer": None, "pre_tokenizer": pre,
             "added_tokens": [],
             "model": {"type": "BPE", "unk_token": None,
                       "vocab": {}, "merges": []}}
        p = str(tmp_path / "lw.json")
        json.dump(d, open(p, "w"))
        model = import_hf_tokenizer_json(p)
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)],
            "doc_id long, text string")
        return {r["doc_id"]: r["tokens"] for r in
                hf_tokenizer_encode(df, "text", model).collect()}

    bl = {"type": "ByteLevel", "add_prefix_space": False,
          "use_regex": True}
    got = enc(bl, ["hi", " hi", "\thi", "a hi"])
    assert got[0] == list("hi")                   # true document start
    assert got[1] == ["Ġ"] + list("hi")[1:] or got[1][0].startswith("Ġ")
    assert got[1] == got[3][-len(got[1]):]        # == mid-document form
    assert got[2] == got[1]                       # any leading ws run
    ms = {"type": "Metaspace", "replacement": "▁",
          "prepend_scheme": "never"}
    got = enc(ms, ["hi", " hi", "x hi"])
    assert got[0] == list("hi")
    assert got[1] == ["▁"] + list("hi") or got[1][0] == "▁h"
    assert got[1] == got[2][-len(got[1]):]


def test_bert_export_emits_bert_normalizer(tmp_path):
    """ADVICE r9 #4: exporting a bert pre-tokenizer spec that carries
    normalizer-side options writes the matching BertNormalizer block
    (not Lowercase), so import→export→import is semantics-identical;
    hf_pre_tokenizer_block alone raises rather than silently dropping
    the options."""
    import json

    import pytest

    from elusion_spark.operators.tokenizer_io import (
        export_hf_tokenizer_json, hf_pre_tokenizer_block,
        import_hf_tokenizer_json)

    spec = {"type": "bert", "strip_accents": True, "clean_text": True,
            "cjk": True}
    with pytest.raises(ValueError, match="BertNormalizer"):
        hf_pre_tokenizer_block(spec)
    # plain bert (no extras) still serializes as the bare block
    assert hf_pre_tokenizer_block(
        {"type": "bert", "strip_accents": False, "clean_text": False,
         "cjk": False}) == {"type": "BertPreTokenizer"}

    p = str(tmp_path / "bert_export.json")
    export_hf_tokenizer_json(
        p, bpe_merges=[{"merge_rank": 1, "lft": "a", "rgt": "b",
                        "pair_count": 2}],
        lowercase=True, alphabet=set("abc"), pre_tokenizer=spec)
    d = json.load(open(p))
    assert d["normalizer"]["type"] == "BertNormalizer"
    assert d["normalizer"]["strip_accents"] is True
    assert d["normalizer"]["handle_chinese_chars"] is True
    assert d["normalizer"]["lowercase"] is True
    assert d["pre_tokenizer"] == {"type": "BertPreTokenizer"}
    back = import_hf_tokenizer_json(p)
    assert back["lowercase"] is True
    assert back["pre_tokenizer"] == {
        "type": "bert", "strip_accents": True, "clean_text": True,
        "cjk": True}


def test_encode_out_col_replaced_in_place(spark):
    """ADVICE r9 #5: when out_col already exists, encode_words_in_task
    replaces the field AT ITS ORIGINAL POSITION (withColumn semantics)."""
    from elusion_spark.operators.wordseg import encode_words_in_task

    df = spark.createDataFrame(
        [(1, ["old"], "a b")], "id long, tokens array<string>, text string")
    out = encode_words_in_task(df, "text", lambda w: [w])
    assert out.columns == ["id", "tokens", "text"]
    assert out.collect()[0]["tokens"] == ["a", "b"]
    # withColumn keeps the replaced column's slot too
    from pyspark.sql import functions as F
    assert df.withColumn(
        "tokens", F.split("text", " ")).columns == out.columns


def test_llama3_scanner_exact_vs_regex_library():
    """The hand-rolled Llama-3/cl100k Split scanner is EXACT against
    the real pattern compiled by the ``regex`` library (which supports
    \\p classes and lookahead), fuzzed over the contract domain —
    whitespace-split words with at most one leading space — plus
    hand-picked edges (case-insensitive contractions, 3-digit caps,
    prefix-char-before-letters, apostrophes that fail the contraction
    check)."""
    import random

    import pytest

    regex = pytest.importorskip("regex")
    from elusion_spark.operators.tokenizer_io import (
        _GPT2_SPLIT_REGEX, _LLAMA3_SPLIT_REGEX, gpt2_word_pieces,
        llama3_word_pieces)

    lpat = regex.compile(_LLAMA3_SPLIT_REGEX)
    gpat = regex.compile(_GPT2_SPLIT_REGEX)
    cases = [" hello", "hello", " 123", "12345", " don't", "don'T",
             "'S", "#hello", " #x", "!!!", " !!!", "a#b", " a#b", "'",
             " '", "x'", "he's", "HE'S", " can't've", "中文abc",
             " ¡hola!", "a1b2", " 1a", "''s", " 'tis", "é1", "𝒳y",
             "1234567", " ...", "--9--"]
    rng = random.Random(7)
    alpha = "ab1!'#é中𝒳."
    for _ in range(3000):
        w = "".join(rng.choice(alpha) for _ in range(rng.randint(1, 10)))
        cases.append(" " + w if rng.random() < 0.5 else w)
    for s in cases:
        assert llama3_word_pieces(s) == lpat.findall(s), repr(s)
        assert gpt2_word_pieces(s) == gpat.findall(s), repr(s)


def test_hf_llama3_sequence_import_encode(spark, tmp_path):
    """A hand-built Llama-3-SHAPED tokenizer.json (VERDICT r9 ask #2)
    goes through the front door: pre_tokenizer Sequence[Split(cl100k
    regex, Isolated), ByteLevel(apfs=false, use_regex=false)],
    normalizer null, BPE with ignore_merges=true and a restricted
    vocab — exactly the combination real Llama-3 files ship.
    Hand-computed expectations: mid-document words split as ' word' →
    'Ġword' pieces; direct-vocab pieces short-circuit whole
    (ignore_merges); others run merges over Ġ-space."""
    import json

    from elusion_spark.operators.tokenizer_io import (
        _LLAMA3_SPLIT_REGEX, hf_tokenizer_encode,
        import_hf_tokenizer_json)

    merges = ["Ġ s", "Ġs c", "a n"]
    vocab_syms = (list("abcdefghijklmnopqrstuvwxyz0123456789!'")
                  + ["Ġ", "Ġs", "Ġsc", "an", "Ġthe", "Ġdata", "the"])
    d = {"version": "1.0", "normalizer": None,
         "pre_tokenizer": {"type": "Sequence", "pretokenizers": [
             {"type": "Split",
              "pattern": {"Regex": _LLAMA3_SPLIT_REGEX},
              "behavior": "Isolated", "invert": False},
             {"type": "ByteLevel", "add_prefix_space": False,
              "trim_offsets": True, "use_regex": False}]},
         "added_tokens": [],
         "model": {"type": "BPE", "dropout": None, "unk_token": None,
                   "continuing_subword_prefix": None,
                   "end_of_word_suffix": None, "fuse_unk": False,
                   "byte_fallback": False, "ignore_merges": True,
                   "vocab": {s: i for i, s in enumerate(vocab_syms)},
                   "merges": merges}}
    p = str(tmp_path / "llama3.json")
    json.dump(d, open(p, "w"))
    model = import_hf_tokenizer_json(p)
    assert model["pre_tokenizer"] == {"type": "seq_split_bytelevel",
                                      "pattern": "llama3"}
    assert model["ignore_merges"] is True

    texts = ["the data scan", "scan the scan12345 a!b"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {r["doc_id"]: r["tokens"] for r in
           hf_tokenizer_encode(df, "text", model).collect()}
    # doc 0: first word 'the' (no space) → direct vocab 'the';
    # ' data' → 'Ġdata' direct; ' scan' → 'Ġscan' NOT in vocab →
    # merges: Ġ+s, Ġs+c, a+n → ['Ġsc','an']
    assert got[0] == ["the", "Ġdata", "Ġsc", "an"]
    # doc 1: first 'scan' → s,c,an ('sc' not derivable: merges need Ġ);
    # ' the' → 'Ġthe' direct; ' scan12345' splits at the digit
    # boundary (letters then \p{N}{1,3} caps digit runs — but single
    # digits here: no digit merges and each digit is its own vocab
    # char, so caps are invisible in tokens; the SPLIT itself is
    # pinned by the scanner fuzz test); ' a!b' → pieces
    # [' a','!','b'] → 'Ġa' is NOT in vocab and no merge joins Ġ+a,
    # so it stays two base symbols
    assert got[1] == ["s", "c", "an", "Ġthe",
                      "Ġsc", "an", "1", "2", "3", "4", "5",
                      "Ġ", "a", "!", "b"]


def test_hf_sequence_loud_rejects(tmp_path):
    """Sequence members the engine cannot compose raise LOUDLY at
    parse time (the r8 policy: an unreplayable pre-tokenizer must
    never import), and a single-member Sequence collapses to its
    member."""
    import pytest

    from elusion_spark.operators.tokenizer_io import (
        _LLAMA3_SPLIT_REGEX, parse_hf_pre_tokenizer)

    split = {"type": "Split", "pattern": {"Regex": _LLAMA3_SPLIT_REGEX},
             "behavior": "Isolated", "invert": False}
    bl = {"type": "ByteLevel", "add_prefix_space": False,
          "use_regex": False}
    ok = parse_hf_pre_tokenizer(
        {"type": "Sequence", "pretokenizers": [split, bl]})
    assert ok == {"type": "seq_split_bytelevel", "pattern": "llama3"}
    # idempotent re-parse (hand-built model dicts carry parsed specs)
    assert parse_hf_pre_tokenizer(ok) == ok
    # single-member Sequence collapses
    assert parse_hf_pre_tokenizer(
        {"type": "Sequence",
         "pretokenizers": [{"type": "WhitespaceSplit"}]}
    ) == {"type": "whitespace"}
    # unknown regex
    with pytest.raises(ValueError, match="Split pattern"):
        parse_hf_pre_tokenizer({"type": "Sequence", "pretokenizers": [
            {**split, "pattern": {"Regex": "[a-z]+"}}, bl]})
    # String pattern (not Regex)
    with pytest.raises(ValueError, match="Split pattern"):
        parse_hf_pre_tokenizer({"type": "Sequence", "pretokenizers": [
            {**split, "pattern": {"String": " "}}, bl]})
    # wrong behavior / invert
    with pytest.raises(ValueError, match="Isolated"):
        parse_hf_pre_tokenizer({"type": "Sequence", "pretokenizers": [
            {**split, "behavior": "Removed"}, bl]})
    with pytest.raises(ValueError, match="invert"):
        parse_hf_pre_tokenizer({"type": "Sequence", "pretokenizers": [
            {**split, "invert": True}, bl]})
    # ByteLevel member that would re-split or prefix-space
    with pytest.raises(ValueError, match="use_regex=true"):
        parse_hf_pre_tokenizer({"type": "Sequence", "pretokenizers": [
            split, {**bl, "use_regex": True}]})
    with pytest.raises(ValueError, match="add_prefix_space=true"):
        parse_hf_pre_tokenizer({"type": "Sequence", "pretokenizers": [
            split, {**bl, "add_prefix_space": True}]})
    # unsupported member pair
    with pytest.raises(ValueError, match="Sequence"):
        parse_hf_pre_tokenizer({"type": "Sequence", "pretokenizers": [
            {"type": "WhitespaceSplit"}, bl]})
    # serialization round-trips through hf_pre_tokenizer_block
    from elusion_spark.operators.tokenizer_io import hf_pre_tokenizer_block
    blk = hf_pre_tokenizer_block(ok)
    assert blk["type"] == "Sequence"
    assert parse_hf_pre_tokenizer(blk) == ok


def test_unigram_fit_pre_tokenizer_kwarg(spark):
    """unigram_lm_fit(pre_tokenizer=Metaspace) == manually passing a
    pretokenize_word_counts-transformed word_counts (with EM ON, so
    the whole fit — seeding and E-steps — runs in ▁-space), and every
    learned piece lives in the marked alphabet.  VERDICT r9 ask #3."""
    from elusion_spark.operators.bpe import (bpe_word_counts,
                                             pretokenize_word_counts)
    from elusion_spark.operators.unigram_lm import unigram_lm_fit

    texts = ["the cat sat on the mat", "a cat ate the hat",
             "the bat and the rat"]
    df = spark.createDataFrame(
        [(t,) for t in texts], "text string").select("text")
    ms = {"type": "Metaspace", "replacement": "▁",
          "prepend_scheme": "always"}
    kw = unigram_lm_fit(df, "text", vocab_size=40, max_piece_len=3,
                        em_iters=2, pre_tokenizer=ms)
    wc = pretokenize_word_counts(bpe_word_counts(df, "text"), ms)
    manual = unigram_lm_fit(df, "text", vocab_size=40, max_piece_len=3,
                            em_iters=2, word_counts=wc)
    assert kw == manual
    pieces = {m["piece"] for m in kw}
    assert any(p.startswith("▁") for p in pieces)
    # single chars of the MARKED alphabet survive pruning — ▁ itself
    # is a base char of the pre-token space
    assert "▁" in pieces


def test_special_tokens_surface_vs_split(spark, tmp_path):
    """VERDICT r9 ask #6: a corpus carrying LITERAL special-token
    strings diverges from HF under the default ('surface' encodes
    them as ordinary text — pinned here so the divergence is a
    documented contract, not a surprise); special_tokens='split'
    replays HF's added-token extraction (raw-text exact match,
    longest-first, each match one token, per-section pre-tokenization
    with document-initial semantics after a flush special);
    contains_special_tokens detects the carriers with pure codegen."""
    import json

    from elusion_spark.operators.tokenizer_io import (
        contains_special_tokens, hf_tokenizer_encode,
        import_hf_tokenizer_json)

    d = {"version": "1.0", "normalizer": None,
         "pre_tokenizer": {"type": "ByteLevel",
                           "add_prefix_space": False,
                           "use_regex": True},
         "added_tokens": [
             {"content": "<|endoftext|>", "special": True},
             {"content": "[SEP]", "special": True}],
         "model": {"type": "BPE", "unk_token": None, "vocab": {},
                   "merges": []}}
    p = str(tmp_path / "sp.json")
    json.dump(d, open(p, "w"))
    model = import_hf_tokenizer_json(p)
    assert model["special_tokens"] == ["<|endoftext|>", "[SEP]"]

    texts = ["a<|endoftext|>b", "x [SEP] y", "plain text",
             "<|endoftext|>lead", "tail<|endoftext|>", None]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")

    # the codegen corpus check (raw, case-sensitive, no UDF)
    hits = {r["doc_id"]: r["special_token_hits"] for r in
            contains_special_tokens(df, "text", model).collect()}
    assert hits[0] == ["<|endoftext|>"]
    assert hits[1] == ["[SEP]"]
    assert hits[2] == []
    assert hits[5] is None or hits[5] == []   # null text -> no hits

    surface = {r["doc_id"]: r["tokens"] for r in
               hf_tokenizer_encode(df, "text", model).collect()}
    split = {r["doc_id"]: r["tokens"] for r in
             hf_tokenizer_encode(df, "text", model,
                                 special_tokens="split").collect()}
    # surface: the special's characters byte-encode as ordinary text
    assert "<|endoftext|>" not in surface[0]
    assert surface[0] == list("a<|endoftext|>b")
    # split: one token for the special; 'b' is section-initial (flush
    # after the special, apfs=False -> NO Ġ)
    assert split[0] == ["a", "<|endoftext|>", "b"]
    # ' y' after ' [SEP] ': the section is ' y' -> space-preceded
    assert split[1] == ["x", "[SEP]", "Ġ", "y"] or \
        split[1] == ["x", "[SEP]", "Ġy"]
    # no specials -> the two modes agree exactly
    assert surface[2] == split[2]
    assert split[3] == ["<|endoftext|>", "l", "e", "a", "d"]
    assert split[4] == ["t", "a", "i", "l", "<|endoftext|>"]
    # invalid mode raises
    import pytest
    with pytest.raises(ValueError, match="special_tokens"):
        hf_tokenizer_encode(df, "text", model, special_tokens="trie")


def test_special_tokens_longest_first_and_lowercase_immunity(
        spark, tmp_path):
    """Overlapping specials match longest-first (HF trie behavior),
    and matching happens BEFORE the normalizer: a Lowercase file still
    matches the upper-case '[SEP]' literally while the surrounding
    text lowercases."""
    import json

    from elusion_spark.operators.tokenizer_io import (
        hf_tokenizer_encode, import_hf_tokenizer_json)

    d = {"version": "1.0", "normalizer": {"type": "Lowercase"},
         "pre_tokenizer": {"type": "WhitespaceSplit"},
         "added_tokens": [
             {"content": "<s>", "special": True},
             {"content": "<ss>", "special": True},
             {"content": "[SEP]", "special": True}],
         "model": {"type": "BPE", "unk_token": None, "vocab": {},
                   "merges": ["a b"]}}
    p = str(tmp_path / "sp2.json")
    json.dump(d, open(p, "w"))
    model = import_hf_tokenizer_json(p)
    df = spark.createDataFrame(
        [(1, "AB<ss>CD"), (2, "AB[SEP]ab CD")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["tokens"] for r in
           hf_tokenizer_encode(df, "text", model,
                               special_tokens="split").collect()}
    # '<ss>' wins over '<s>' (longest-first); text lowercases, the
    # special does not; 'ab' merges (merge 'a b')
    assert got[1] == ["ab", "<ss>", "c", "d"]
    assert got[2] == ["ab", "[SEP]", "ab", "c", "d"]


# ----------------------------------------------- adversarial inputs
# (round 10, VERDICT r9 stretch #8): empty/whitespace/null documents,
# single-char corpora, astral-plane codepoints through ByteLevel,
# words past WordPiece's max_input_chars_per_word, vocabularies with
# no single-char coverage — each family checked against its
# construction rule (byte-map reconstruction, whole-word [UNK],
# byte-fallback surface forms), not just for absence of crashes.


def test_hf_encode_adversarial_bytelevel_reconstruction(spark, tmp_path):
    """ByteLevel with an empty vocab and no merges emits one token per
    BYTE — so the inverse byte↔unicode table must reconstruct every
    word's exact UTF-8 bytes, including astral-plane codepoints (4
    UTF-8 bytes each) and mixed scripts; empty/whitespace-only/null
    documents produce zero tokens."""
    import json

    from elusion_spark.operators.tokenizer_io import (
        _bytes_to_unicode, hf_tokenizer_encode, import_hf_tokenizer_json)

    d = {"version": "1.0", "normalizer": None,
         "pre_tokenizer": {"type": "ByteLevel",
                           "add_prefix_space": False,
                           "use_regex": True},
         "added_tokens": [],
         "model": {"type": "BPE", "unk_token": None, "vocab": {},
                   "merges": []}}
    p = str(tmp_path / "adv_bl.json")
    json.dump(d, open(p, "w"))
    model = import_hf_tokenizer_json(p)
    texts = ["", " ", "\t\n  ", None, "x", "🦄", "🦄🦄 ok",
             "héllo 🌍 world", "𝒳y z𝒳", "a🦄b", "नमस्ते दुनिया"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {r["doc_id"]: r["tokens"] for r in
           hf_tokenizer_encode(df, "text", model).collect()}
    u2b = {u: bytes([b]) for b, u in _bytes_to_unicode().items()}

    def _reconstruct(tokens):
        return b"".join(u2b[c] for t in tokens for c in t).decode("utf-8")

    import re
    ws = re.compile(r"[ \t\n\x0b\f\r]+")
    for i, t in enumerate(texts):
        if t is None or not ws.sub("", t):
            assert got[i] == [], (i, got[i])
            continue
        # documented divergence: whitespace runs collapse to ONE
        # separator; the reconstruction is the single-space-joined form
        words = [w for w in ws.split(t) if w]
        lead = " " if ws.match(t) else ""
        assert _reconstruct(got[i]) == lead + " ".join(words), (i, t)


def test_hf_encode_adversarial_wordpiece_clamp(spark, tmp_path):
    """WordPiece's max_input_chars_per_word: a word LONGER than the
    clamp is whole-word [UNK] without running the quadratic matcher;
    exactly AT the clamp it still matches; with unk_token null the
    clamped word vanishes."""
    import json

    from elusion_spark.operators.tokenizer_io import (
        hf_tokenizer_encode, import_hf_tokenizer_json)

    vocab = ["[UNK]", "a", "##a"]
    base = {"version": "1.0", "normalizer": None,
            "pre_tokenizer": {"type": "WhitespaceSplit"},
            "added_tokens": [],
            "model": {"type": "WordPiece", "unk_token": "[UNK]",
                      "continuing_subword_prefix": "##",
                      "max_input_chars_per_word": 6,
                      "vocab": {v: i for i, v in enumerate(vocab)}}}
    p = str(tmp_path / "adv_wp.json")
    json.dump(base, open(p, "w"))
    model = import_hf_tokenizer_json(p)
    df = spark.createDataFrame(
        [(1, "aaaaaa aaaaaaa b " + "a" * 500)],
        "doc_id long, text string")
    out = hf_tokenizer_encode(df, "text", model).collect()[0]["tokens"]
    # 6 a's: at the clamp -> greedy a + 5x ##a; 7 a's and 500 a's:
    # past it -> [UNK]; 'b': in no piece -> whole-word [UNK]
    assert out == (["a"] + ["##a"] * 5 + ["[UNK]", "[UNK]", "[UNK]"])
    base["model"]["unk_token"] = None
    p2 = str(tmp_path / "adv_wp2.json")
    json.dump(base, open(p2, "w"))
    out2 = hf_tokenizer_encode(
        df, "text", import_hf_tokenizer_json(p2)).collect()[0]["tokens"]
    assert out2 == ["a"] + ["##a"] * 5


def test_hf_encode_adversarial_unigram_no_char_coverage(spark, tmp_path):
    """A unigram vocab whose every piece is MULTI-char cannot cover
    odd remainders: without byte_fallback uncoverable words drop;
    with it they surface as <0xNN> byte pieces (multi-BYTE chars
    expand per byte).  Single-char corpora and astral-only words hit
    the same paths."""
    import json

    from elusion_spark.operators.tokenizer_io import (
        hf_tokenizer_encode, import_hf_tokenizer_json)

    def build(bf):
        return {"version": "1.0", "normalizer": None,
                "pre_tokenizer": {"type": "WhitespaceSplit"},
                "added_tokens": [],
                "model": {"type": "Unigram", "unk_id": None,
                          "byte_fallback": bf,
                          "vocab": [["ab", -1.0], ["cd", -1.5]]}}

    texts = ["abab cdab", "aba", "x", "🦄", "ab🦄"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    p = str(tmp_path / "adv_ug.json")
    json.dump(build(False), open(p, "w"))
    drop = {r["doc_id"]: r["tokens"] for r in hf_tokenizer_encode(
        df, "text", import_hf_tokenizer_json(p)).collect()}
    assert drop[0] == ["ab", "ab", "cd", "ab"]
    assert drop[1] == [] and drop[2] == [] and drop[3] == []
    assert drop[4] == []          # partial coverage is NOT enough
    p2 = str(tmp_path / "adv_ug_bf.json")
    json.dump(build(True), open(p2, "w"))
    keep = {r["doc_id"]: r["tokens"] for r in hf_tokenizer_encode(
        df, "text", import_hf_tokenizer_json(p2)).collect()}
    assert keep[0] == ["ab", "ab", "cd", "ab"]
    assert keep[2] == ["<0x78>"]
    assert keep[3] == ["<0xF0>", "<0x9F>", "<0xA6>", "<0x84>"]
    assert keep[4] == ["<0x61>", "<0x62>", "<0xF0>", "<0x9F>",
                       "<0xA6>", "<0x84>"]


def test_scanner_adversarial_astral_and_marks():
    """The Split scanners on astral symbols (So), combining marks (M),
    and supplementary-plane letters, checked against the real regex
    library — categories outside the common L/N/punct paths."""
    import pytest

    regex = pytest.importorskip("regex")
    from elusion_spark.operators.tokenizer_io import (
        _GPT2_SPLIT_REGEX, _LLAMA3_SPLIT_REGEX, gpt2_word_pieces,
        llama3_word_pieces)

    lpat = regex.compile(_LLAMA3_SPLIT_REGEX)
    gpat = regex.compile(_GPT2_SPLIT_REGEX)
    cases = ["🦄", " 🦄", "a🦄", " a🦄b", "🦄123", "éx",
             " é", "́x", "𝔸𝔹", " 𝔸1", "१२३४",  # Devanagari digits
             " ½", "Ⅷx", "🦄's", " 🦄's"]
    for s in cases:
        assert llama3_word_pieces(s) == lpat.findall(s), repr(s)
        assert gpt2_word_pieces(s) == gpat.findall(s), repr(s)


def test_hf_encode_with_ids(spark, tmp_path):
    """with_ids=True emits the file's piece→id stream alongside the
    tokens (one vectorized pandas_udf, ids from vocab + added-token
    ids which win on overlap); models without a vocab raise; an OOV
    piece raises instead of emitting a wrong id."""
    import json

    import pytest

    from elusion_spark.operators.tokenizer_io import (
        hf_tokenizer_encode, import_hf_tokenizer_json)

    d = {"version": "1.0", "normalizer": None,
         "pre_tokenizer": {"type": "WhitespaceSplit"},
         "added_tokens": [{"content": "<eot>", "special": True,
                           "id": 99}],
         "model": {"type": "BPE", "unk_token": None,
                   "vocab": {"a": 0, "b": 1, "ab": 2},
                   "merges": ["a b"]}}
    p = str(tmp_path / "ids.json")
    json.dump(d, open(p, "w"))
    model = import_hf_tokenizer_json(p)
    assert model["special_token_ids"] == {"<eot>": 99}
    df = spark.createDataFrame(
        [(1, "ab a<eot>b")], "doc_id long, text string")
    row = hf_tokenizer_encode(df, "text", model, with_ids=True,
                              special_tokens="split").collect()[0]
    assert row["tokens"] == ["ab", "a", "<eot>", "b"]
    assert row["token_ids"] == [2, 0, 99, 1]
    # unigram ids are vocab positions
    d2 = {"version": "1.0", "normalizer": None,
          "pre_tokenizer": {"type": "WhitespaceSplit"},
          "added_tokens": [],
          "model": {"type": "Unigram", "unk_id": None,
                    "byte_fallback": False,
                    "vocab": [["ab", -1.0], ["a", -2.0], ["b", -2.0]]}}
    p2 = str(tmp_path / "ids_ug.json")
    json.dump(d2, open(p2, "w"))
    m2 = import_hf_tokenizer_json(p2)
    df2 = spark.createDataFrame(
        [(1, "ab aabb")], "doc_id long, text string")
    row2 = hf_tokenizer_encode(df2, "text", m2,
                               with_ids=True).collect()[0]
    assert row2["tokens"] == ["ab", "a", "ab", "b"]
    assert row2["token_ids"] == [0, 1, 0, 2]
    # vocab-less model refuses
    d3 = dict(d2)
    d3["model"] = {"type": "BPE", "unk_token": None, "vocab": {},
                   "merges": []}
    p3 = str(tmp_path / "ids_none.json")
    json.dump(d3, open(p3, "w"))
    with pytest.raises(ValueError, match="vocab"):
        hf_tokenizer_encode(df, "text", import_hf_tokenizer_json(p3),
                            with_ids=True)


def test_hf_decode_families(spark, tmp_path):
    """hf_tokenizer_decode inverts each decoder family per HF: the
    ByteLevel byte table reconstructs exact text (astral bytes
    included, leading space preserved for whitespace-led documents),
    Metaspace strips its one prepended marker, WordPiece strips ##
    and runs HF's cleanup, decoder-null files space-join."""
    import json

    from elusion_spark.operators.tokenizer_io import (
        hf_tokenizer_decode, hf_tokenizer_encode,
        import_hf_tokenizer_json)

    def roundtrip(pre, texts, model_block=None, normalizer=None):
        d = {"version": "1.0", "normalizer": normalizer,
             "pre_tokenizer": pre, "added_tokens": [],
             "model": model_block or {"type": "BPE", "unk_token": None,
                                      "vocab": {}, "merges": []}}
        p = str(tmp_path / "dec.json")
        json.dump(d, open(p, "w"))
        model = import_hf_tokenizer_json(p)
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)],
            "doc_id long, text string")
        enc = hf_tokenizer_encode(df, "text", model)
        return {r["doc_id"]: r["decoded"] for r in
                hf_tokenizer_decode(enc, "tokens", model).collect()}

    bl = {"type": "ByteLevel", "add_prefix_space": False,
          "use_regex": True}
    texts = ["hello world", "x 🦄 y", " led by space", "don't stop"]
    got = roundtrip(bl, texts)
    assert got[0] == "hello world"
    assert got[1] == "x 🦄 y"
    assert got[2] == " led by space"      # ONE leading space kept
    assert got[3] == "don't stop"

    ms = {"type": "Metaspace", "replacement": "▁",
          "prepend_scheme": "always"}
    got = roundtrip(ms, ["hello world", "one"])
    assert got[0] == "hello world"        # leading ▁ stripped once
    assert got[1] == "one"

    wp = {"type": "BertPreTokenizer"}
    vocab = ["[UNK]", "un", "##aff", "##able", "cat", "!", "the"]
    got = roundtrip(
        wp, ["the unaffable cat !"],
        model_block={"type": "WordPiece", "unk_token": "[UNK]",
                     "continuing_subword_prefix": "##",
                     "max_input_chars_per_word": 100,
                     "vocab": {v: i for i, v in enumerate(vocab)}})
    # ## continuations re-joined; cleanup removes the space before '!'
    assert got[0] == "the unaffable cat!"

    # decoder-null files space-join tokens (HF's default), which is
    # LOSSY for word-internal splits: 'ab' encodes to ['a','b'] under
    # the empty-vocab char model and decodes to 'a b' — the documented
    # whitespace-family limitation
    got = roundtrip({"type": "WhitespaceSplit"}, ["a b", "ab"])
    assert got[0] == "a b" and got[1] == "a b"


def test_import_gpt2_legacy_files(spark, tmp_path):
    """The legacy GPT-2 vocab.json + merges.txt pair imports into the
    same model shape as a consolidated tokenizer.json — ByteLevel
    regex replay, restricted-vocab semantics, ids — and the two forms
    encode identically."""
    import json

    from elusion_spark.operators.tokenizer_io import (
        hf_tokenizer_encode, import_gpt2_files,
        import_hf_tokenizer_json)

    b2u_chars = "abehlot"   # plain latin maps to itself
    vocab = {c: i for i, c in enumerate(b2u_chars)}
    vocab.update({"Ġ": 90, "he": 91, "Ġhe": 92, "llo": 93})
    vp = str(tmp_path / "vocab.json")
    json.dump(vocab, open(vp, "w"))
    mp = str(tmp_path / "merges.txt")
    open(mp, "w").write("#version: 0.2\nh e\nĠ he\nl l\nll o\n")
    legacy = import_gpt2_files(vp, mp)
    assert legacy["kind"] == "bpe"
    assert legacy["pre_tokenizer"]["type"] == "byte_level"
    assert legacy["vocab_ids"]["Ġhe"] == 92

    d = {"version": "1.0", "normalizer": None,
         "pre_tokenizer": {"type": "ByteLevel",
                           "add_prefix_space": False,
                           "use_regex": True},
         "added_tokens": [],
         "model": {"type": "BPE", "unk_token": None, "vocab": vocab,
                   "merges": ["h e", "Ġ he", "l l", "ll o"]}}
    jp = str(tmp_path / "tok.json")
    json.dump(d, open(jp, "w"))
    consolidated = import_hf_tokenizer_json(jp)
    df = spark.createDataFrame(
        [(1, "hello he the")], "doc_id long, text string")
    a = hf_tokenizer_encode(df, "text", legacy,
                            with_ids=True).collect()[0]
    b = hf_tokenizer_encode(df, "text", consolidated,
                            with_ids=True).collect()[0]
    assert a["tokens"] == b["tokens"]
    assert a["token_ids"] == b["token_ids"]
    # malformed merges raise
    bad = str(tmp_path / "bad.txt")
    open(bad, "w").write("a b c\n")
    import pytest
    with pytest.raises(ValueError, match="merges.txt"):
        import_gpt2_files(vp, bad)


def test_import_bert_vocab_txt(spark, tmp_path):
    """The legacy BERT vocab.txt (one piece per line, id = line
    number) imports as the full WordPiece model with BertNormalizer
    defaults; known specials surface with their line-number ids."""
    import pytest

    from elusion_spark.operators.tokenizer_io import (
        hf_tokenizer_encode, import_bert_vocab)

    pieces = ["[PAD]", "[UNK]", "[CLS]", "[SEP]", "the", "cat",
              "un", "##aff", "##able", "!"]
    vp = str(tmp_path / "vocab.txt")
    open(vp, "w").write("\n".join(pieces) + "\n")
    model = import_bert_vocab(vp)
    assert model["special_token_ids"]["[SEP]"] == 3
    assert model["pre_tokenizer"]["strip_accents"] is True  # follows lc
    df = spark.createDataFrame(
        [(1, "The unaffable CAT! zzz")], "doc_id long, text string")
    row = hf_tokenizer_encode(df, "text", model,
                              with_ids=True).collect()[0]
    assert row["tokens"] == ["the", "un", "##aff", "##able", "cat",
                             "!", "[UNK]"]
    assert row["token_ids"] == [4, 6, 7, 8, 5, 9, 1]
    with pytest.raises(ValueError, match="unk_token"):
        import_bert_vocab(vp, unk_token="<unk>")


def test_hf_decode_from_ids(spark, tmp_path):
    """from_ids=True inverts the vocab before the family decode —
    decode(encode(with_ids).token_ids) reconstructs the text; a
    foreign id raises."""
    import json

    import pytest

    from elusion_spark.operators.tokenizer_io import (
        hf_tokenizer_decode, hf_tokenizer_encode,
        import_hf_tokenizer_json)

    vocab = {c: i for i, c in enumerate("ehlo ")}
    vocab["Ġ"] = 80
    d = {"version": "1.0", "normalizer": None,
         "pre_tokenizer": {"type": "ByteLevel",
                           "add_prefix_space": False,
                           "use_regex": True},
         "added_tokens": [],
         "model": {"type": "BPE", "unk_token": None,
                   "vocab": {k: v for k, v in vocab.items()
                             if k != " "},
                   "merges": []}}
    p = str(tmp_path / "fi.json")
    json.dump(d, open(p, "w"))
    model = import_hf_tokenizer_json(p)
    df = spark.createDataFrame(
        [(1, "hello hole")], "doc_id long, text string")
    enc = hf_tokenizer_encode(df, "text", model, with_ids=True)
    dec = hf_tokenizer_decode(enc, "token_ids", model, from_ids=True)
    assert dec.collect()[0]["decoded"] == "hello hole"
    from pyspark.sql import functions as F
    bad = enc.withColumn(
        "token_ids", F.array(F.lit(12345).cast("bigint")))
    with pytest.raises(Exception, match="no piece"):
        hf_tokenizer_decode(bad, "token_ids", model,
                            from_ids=True).collect()


def test_hf_decode_wordpiece_cleanup_rules(spark, tmp_path):
    """The WordPiece decoder cleanup list matches HF exactly —
    including the " ' " → "'" rule (no residual space) and the
    contraction joins."""
    import json

    from elusion_spark.operators.tokenizer_io import (
        hf_tokenizer_decode, import_hf_tokenizer_json)

    d = {"version": "1.0", "normalizer": None,
         "pre_tokenizer": {"type": "BertPreTokenizer"},
         "added_tokens": [],
         "model": {"type": "WordPiece", "unk_token": "[UNK]",
                   "continuing_subword_prefix": "##",
                   "max_input_chars_per_word": 100,
                   "vocab": {"x": 0}}}
    p = str(tmp_path / "wpc.json")
    json.dump(d, open(p, "w"))
    model = import_hf_tokenizer_json(p)
    df = spark.createDataFrame(
        [(1, ["do", "n't", "stop", ",", "it", "'s", "a", "'", "b",
              "fine", "."])],
        "doc_id long, tokens array<string>")
    out = hf_tokenizer_decode(df, "tokens", model).collect()[0]["decoded"]
    assert out == "don't stop, it's a'b fine."


def test_tokenizer_fertility_metrics(spark):
    """tokenizer_fertility: exact BIGINT sums, per-stratum and
    whole-corpus forms, ratios = tokens/word and chars/token."""
    from pyspark.sql import functions as F

    from elusion_spark.operators.tokenizer_io import tokenizer_fertility

    df = spark.createDataFrame(
        [("en", "ab cd", 6), ("en", "x", 1), ("de", "hello there", 4)],
        "lang string, text string, n_tokens long")
    per = {r["lang"]: r for r in tokenizer_fertility(
        df, "text", "n_tokens", strata_col="lang").collect()}
    assert per["en"]["docs"] == 2 and per["en"]["tokens"] == 7
    assert per["en"]["words"] == 3 and per["en"]["chars"] == 6
    assert per["en"]["fertility"] == round(7 / 3, 6)
    assert per["de"]["chars_per_token"] == round(11 / 4, 6)
    whole = tokenizer_fertility(df, "text", "n_tokens").collect()
    assert len(whole) == 1 and whole[0]["tokens"] == 11
    assert whole[0]["words"] == 5
