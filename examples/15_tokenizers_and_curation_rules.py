"""Tokenizer family + rule-based curation walkthrough (round 7).

Four capabilities, at toy scale:

1. Gopher quality-rule family (Rae et al. 2021 A1.1): every signal is
   one codegen expression over the raw text — word-count bounds, mean
   word length, symbol ratio, bullet/ellipsis line shape, alphabetic
   fraction, stopword presence — plus the conjunction verdict.  Keep
   the signals, filter late: threshold sweeps then never re-scan.
2. BPE training: one corpus-sized word-count job shared with the
   unigram fit below, then the exact Sennrich merge loop over the
   collected vocabulary, driver-side.
3. Unigram-LM (SentencePiece-family) training + Viterbi encode:
   EM over distinct words, integer micro-log scores so the
   segmentation argmax is engine-exact and externally replayable.
4. PCA whitening of an embedding space: sampled fit, zero-shuffle
   folded-matrix projection — the SemDeDup-style preconditioner.

Run: python examples/15_tokenizers_and_curation_rules.py [sf_dir]
"""
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F

from elusion_spark import (
    bpe_fit,
    bpe_word_counts,
    get_spark,
    gopher_quality_filter,
    pca_fit,
    pca_project,
    unigram_lm_encode,
    unigram_lm_fit,
)

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
spark = get_spark("ex15")
docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

# -- 1. Gopher rules ---------------------------------------------------
scored = gopher_quality_filter(docs, "text", min_stopword_hits=1)
print("== Gopher rule family (signals kept, filter late) ==")
scored.select("doc_id", "n_words", F.round("mean_word_len", 2),
              "stop_hits", "gopher_pass").show(5)
print("pass rate:",
      scored.filter("gopher_pass").count(), "/", scored.count())

# -- 2. BPE over the shared word-count table ---------------------------
wc = bpe_word_counts(docs, "text").persist()
merges = bpe_fit(None, num_merges=24, word_counts=wc)
print("\n== BPE (exact merges over the shared word counts) ==")
print("first merges:", [(m["lft"], m["rgt"]) for m in merges[:6]])

# -- 3. Unigram-LM tokenizer -------------------------------------------
model = unigram_lm_fit(docs, "text", vocab_size=64, max_piece_len=4,
                       em_iters=1, word_counts=wc)
print("\n== Unigram LM (top pieces by probability) ==")
print([m["piece"] for m in model[:10]])
enc = unigram_lm_encode(docs, "text", model)
enc.select("doc_id", F.slice("tokens", 1, 8).alias("first_tokens")).show(
    3, truncate=False)
wc.unpersist()

# -- 4. PCA whitening of the embedding space ---------------------------
emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
    "vec_id", F.expr(
        "transform(slice(embedding, 1, 16), x -> CAST(x AS DOUBLE))"
    ).alias("v"))
m = pca_fit(emb, "v", dim=16, k=4, whiten=True)
print("\n== PCA whitening ==")
print("explained variance ratio:",
      [round(r, 3) for r in m.explained_variance_ratio])
pca_project(emb, "v", m).select(
    "vec_id", F.round(F.element_at("pca", 1), 3).alias("pc1")).show(3)
