"""End-to-end LLM training-data pipeline over the documents table:
scrub PII → exact dedup → near-dup removal (MinHash LSH pairs → cluster →
keep canonical) → benchmark decontamination → per-language quality
banding → pack into training sequences → content checksum of the shipped
corpus. Each stage is one of the engine's operators; the whole chain is
lazy until the final action.

Run: python examples/llm_pipeline_example.py [sf_dir]
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from data_warehouse_migrate_spark.functions.text import quality_score, redact_pii
from data_warehouse_migrate_spark.operators.contamination import decontaminate
from data_warehouse_migrate_spark.operators.dedup import (
    drop_exact_dups,
    minhash_lsh_pairs,
    near_dup_removal,
)
from data_warehouse_migrate_spark.operators.quota import quality_band_filter
from data_warehouse_migrate_spark.operators.validate import group_checksum
from data_warehouse_migrate_spark.operators.packing import (
    pack_sequences,
    packing_stats,
)
from data_warehouse_migrate_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("llm-pipeline-example")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    # 1. hygiene: redact contact strings before anything else sees text
    docs = docs.withColumn("text", redact_pii("text"))

    # 2. exact dedup (normalized-text hash, keep min id)
    docs = drop_exact_dups(docs, "text", "doc_id")

    # 3. near-dup removal: pairs -> components -> keep the canonical doc
    pairs = minhash_lsh_pairs(docs, "text", "doc_id",
                              n=3, k=16, bands=8, threshold=0.6)
    docs = near_dup_removal(docs, pairs, "doc_id")

    # 4. decontaminate against a benchmark set (here: a held-out slice
    # stands in for the eval suites a real pipeline guards against)
    benchmark = docs.filter(F.col("doc_id") % 97 == 0)
    docs = decontaminate(docs.filter(F.col("doc_id") % 97 != 0), benchmark,
                         "text", "doc_id", n=3, drop_threshold=0.8)

    # 5. per-language quality banding: keep each language's top 80%
    scored = docs.withColumn("q", F.round(quality_score("text"), 6))
    docs = (quality_band_filter(scored, "q", "lang", keep_top=0.8)
            .drop("q", "q_rank"))

    # 6. pack survivors into fixed-budget training sequences
    packed = pack_sequences(docs, "text", "doc_id",
                            budget=2048, n_groups=8)
    stats = packing_stats(packed, budget=2048)

    n_docs = docs.count()
    print(f"surviving documents: {n_docs}")
    print("packing stats (per shard):")
    for r in stats.orderBy("pack_group").collect():
        print(f"  shard {r.pack_group}: {r.n_docs} docs, "
              f"{r.total_tokens} tokens -> {r.n_seqs} seqs "
              f"(fill {r.fill_ratio})")

    # 7. fingerprint the shipped corpus (order-independent checksum) —
    # re-run after any replication/migration to prove content identity
    fp = group_checksum(docs, [], ["doc_id", "text"]).first()
    print(f"corpus fingerprint: rows={fp.n_rows} checksum={fp.checksum}")
    spark.stop()


if __name__ == "__main__":
    main()
