"""The full tokenizer lifecycle, corpus to training-mix (round 9).

One path, end to end, the way a real pretraining data team runs it:

1. TRAIN — ``bpe_fit``: the corpus collapses to a word-frequency
   table in its one corpus-sized job; the ``min_freq``-floored
   vocabulary is collected once (bounded by ``MAX_DRIVER_VOCAB``) and
   the exact incremental-index Sennrich loop learns a
   production-sized merge list in seconds — 2 Spark jobs total at
   any merge count (SCALE.md round 9: 30k merges, 7.6 s end-to-end).
2. EXPORT — ``export_hf_tokenizer_json`` with the corpus ``alphabet``
   seeded (so characters that never joined a merge stay in-vocab) —
   a file ``tokenizers.Tokenizer.from_file`` consumes directly.
3. IMPORT — ``import_hf_tokenizer_json`` round-trips it (and would
   accept any published WhitespaceSplit/ByteLevel/Metaspace file;
   anything the engine cannot replay raises loudly at import).
4. ENCODE — ``hf_tokenizer_encode``: zero-shuffle mapInPandas pass,
   model + pre-tokenizer compiled into the closure, per-task
   distinct-word memo; the shape that rides a 100 TB scan.
5. MIX — ``sample_to_token_budget`` consumes the fresh ``n_tokens``
   to cut a deterministic, auditable per-language token-budget
   training mix.

Run: python examples/16_tokenizer_lifecycle.py [sf_dir]
"""
import os
import sys
import tempfile

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F

from elusion_spark import (
    bpe_fit,
    bpe_word_counts,
    export_hf_tokenizer_json,
    get_spark,
    hf_tokenizer_encode,
    import_hf_tokenizer_json,
)
from elusion_spark.pipeline import sample_to_token_budget

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
spark = get_spark("ex16")
docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

# -- 1. train: one fit over a shared word-count table ------------------
wc = bpe_word_counts(docs, "text").persist()
merges = bpe_fit(None, num_merges=200, word_counts=wc)
print("== 1. bpe_fit ==")
print(f"learned {len(merges)} merges; first:",
      [(m["lft"], m["rgt"]) for m in merges[:5]])

# -- 2. export: HF tokenizer.json with the full corpus alphabet --------
alphabet = {c for r in wc.select("word").toLocalIterator()
            for c in r["word"]}
path = os.path.join(tempfile.gettempdir(), "ex16_tokenizer.json")
export_hf_tokenizer_json(path, bpe_merges=merges, alphabet=alphabet)
print("\n== 2. export_hf_tokenizer_json ==")
print(f"wrote {path} ({os.path.getsize(path)} bytes, "
      f"alphabet seeded with {len(alphabet)} chars)")

# -- 3. import: the published-tokenizer entry point --------------------
model = import_hf_tokenizer_json(path)
print("\n== 3. import_hf_tokenizer_json ==")
print("kind:", model["kind"], "| pre_tokenizer:",
      model["pre_tokenizer"], "| lowercase:", model["lowercase"])

# -- 4. encode: zero-shuffle mapInPandas pass -------------------------
enc = hf_tokenizer_encode(docs, "text", model).persist()
enc.select("doc_id", "n_tokens",
           F.slice("tokens", 1, 6).alias("first_tokens")).show(
    3, truncate=False)
total = enc.agg(F.sum("n_tokens").alias("t")).collect()[0]["t"]
print("corpus tokens:", total)

# -- 5. mix: spend a token budget across language strata ----------------
mix = sample_to_token_budget(
    enc, budgets={"en": int(total * 0.2), "de": int(total * 0.05)},
    strata_col="lang", token_col="n_tokens",
    id_col="doc_id", deterministic=True)
print("\n== 5. sample_to_token_budget (deterministic per-lang mix) ==")
mix.groupBy("lang").agg(
    F.count("*").alias("docs"),
    F.sum("n_tokens").alias("tokens_spent")).orderBy("lang").show()
enc.unpersist()
wc.unpersist()
print("lifecycle complete.")
