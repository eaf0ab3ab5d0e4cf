"""The round-6 curation additions composed end-to-end: keep-best
near-dedup, the filter-funnel audit, temperature mixture budgeting,
BPE train+apply, and the cross-source contamination matrix -- the
reports and passes a corpus owner runs between "raw crawl" and
"training mix".

Every operator here is oracle-checked in `__spark_entry__.py`
(dedup_keep_best, filter_audit, temperature_mixture, bpe_train,
bpe_apply, dedup_source_matrix, knn_refine, ivfpq_recall); this example
shows the composition.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from common import get_example_spark, show

SF_DIR = "/root/testdata/sf0.001"


def main(spark):
    from async_stream_processing_spark.llm.curation import (
        filter_audit,
        temperature_mixture,
    )
    from async_stream_processing_spark.llm.dedup import (
        dedup_keep_best,
        dedup_source_matrix,
    )
    from async_stream_processing_spark.llm.similarity import (
        knn_ivfpq,
        knn_refine,
        recall_at_k,
    )
    from async_stream_processing_spark.llm.text_analysis import (
        bpe_apply,
        bpe_train,
    )
    from async_stream_processing_spark.sources.parquet import load_table

    docs = load_table(spark, SF_DIR, "documents")
    emb = load_table(spark, SF_DIR, "embeddings")

    # 1. what would my quality filters delete, per source?
    show(
        filter_audit(docs).orderBy("source"),
        n=5,
        label="Filter funnel: docs/tokens surviving Gopher+C4, per source",
    )

    # 2. which sources copy each other?
    show(
        dedup_source_matrix(docs, threshold=0.25)
        .orderBy(F.desc("n_pairs")),
        n=5,
        label="Cross-source near-dup contamination matrix",
    )

    # 3. dedup keeping the best (longest) member per near-dup cluster
    survivors = dedup_keep_best(docs, threshold=0.25)
    show(
        survivors.filter(F.col("cluster_size") > 1),
        n=5,
        label="Keep-best survivors of multi-doc clusters",
    )

    # 4. how much of each source goes in the mix? (alpha=0.5 temperature)
    show(
        temperature_mixture(docs, total_target=200).orderBy("source"),
        n=5,
        label="Temperature-scaled mixture budgets",
    )

    # 5. tokenizer: learn merges once, encode the corpus
    merges = bpe_train(docs, n_merges=3)
    show(merges, n=3, label="Learned BPE merge table (driver model state)")
    rules = [r["pair"] for r in sorted(
        merges.collect(), key=lambda r: r["merge_round"])]
    show(
        bpe_apply(docs, merges=rules),
        n=5,
        label="Per-doc token counts after applying the merges",
    )

    # 6. retrieval: cheap shortlist, exact re-rank, measured recall
    show(
        knn_refine(emb, n_queries=3, k=3, shortlist=10),
        n=9,
        label="Two-stage ANN: PQ shortlist -> exact re-rank",
    )
    recall = recall_at_k(emb, knn_ivfpq(emb, n_queries=5, k=3), 5, 3)
    show(recall, n=5, label="IVF-PQ recall@3 vs exact brute force")
    return recall


if __name__ == "__main__":
    spark = get_example_spark()
    main(spark)
