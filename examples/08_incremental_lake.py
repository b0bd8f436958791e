"""Incremental lake maintenance: the day-2 operations loop.

A corpus is not built once — it is re-crawled, corrected, and appended
forever.  This walkthrough runs the operational cycle at toy scale:

1. bootstrap a partitioned corpus + its MinHash signature store;
2. dedup a daily increment against the store WITHOUT re-scanning the
   corpus (store side pruned to colliding buckets);
3. admit the survivors: partition-pruned upsert (untouched partitions'
   files are not rewritten) + append to the signature store;
4. compact the written partitions into size-targeted, clustered files.

Run: python examples/08_incremental_lake.py [sf_dir]
"""
import os
import sys
import tempfile

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F

from elusion_spark import (
    build_signature_store,
    compact_files,
    get_spark,
    incremental_minhash_pairs,
    upsert_partitioned,
)

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
spark = get_spark()
root = tempfile.mkdtemp()
corpus_path, store = f"{root}/corpus", f"{root}/sigstore"

docs = spark.read.parquet(f"{sf}/documents.parquet")
history = docs.filter("doc_id < 400")

# 1. bootstrap: corpus partitioned by lang, signature store beside it
history.write.partitionBy("lang").parquet(corpus_path)
build_signature_store(history, "doc_id", "text", store)
print("bootstrap:", spark.read.parquet(corpus_path).count(), "docs")

# 2. a daily increment arrives — some docs are near-copies of history
increment = docs.filter("doc_id >= 400")
pairs = incremental_minhash_pairs(increment, "doc_id", "text", store,
                                  threshold=0.7)
dup_ids = pairs.select(F.col("id_b").alias("doc_id")).distinct()
fresh = increment.join(dup_ids, "doc_id", "left_anti")
print("increment:", increment.count(), "docs;",
      "near-dups vs history:", dup_ids.count(), "-> admitting",
      fresh.count())

# 3. admit: only the partitions (langs) the increment touches rewrite
stats = upsert_partitioned(spark, corpus_path, fresh, ["doc_id"], "lang")
build_signature_store(fresh, "doc_id", "text", store, mode="append")
print("upsert:", stats)

# 4. compact the lake: size-targeted files, clustered by source so
# row-group min/max stats prune source-filtered reads
cstats = compact_files(spark, corpus_path, target_mb=64,
                       sort_cols=["source"], partition_by=["lang"])
print("compaction:", cstats)
print("final corpus:", spark.read.parquet(corpus_path).count(), "docs")
