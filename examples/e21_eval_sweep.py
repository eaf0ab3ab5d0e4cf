"""Measure, don't guess -- the eval sweep as one artifact.

Every approximate structure in the engine ships with a measured-quality
harness; this example runs the whole sweep on one corpus slice and
prints the report a pipeline owner reads before committing parameters:

* ANN ladder: brute-force-vs-index recall at each compression rung
  (LSH buckets, IVF-PQ, SQ8);
* dedup blocker: aggregate precision/recall AND the per-Jaccard-bin
  detection S-curve of the banded MinHash blocker;
* clustering: per-cell simplified silhouette (the n_centroids dial);
* tokenizer / packer: per-source BPE compression + packing fill ratio;
* classifiers: lang-id confusion matrix and the quality perceptron's
  held-out precision/recall.

Every row here is also an oracle-checked query in `__spark_entry__.py`
(ann_recall, ivfpq_recall, sq8_recall, lsh_pair_recall via
dedup_pair_recall, lsh_s_curve, kmeans_silhouette, bpe_coverage,
packing_efficiency, langid_confusion, perceptron_eval); this example is
the composition a re-tune session runs end to end on an eval slice
before deploying parameters to the full corpus.
"""

from __future__ import annotations

from common import get_example_spark, show

SF_DIR = "/root/testdata/sf0.001"


def main(spark):
    from async_stream_processing_spark.llm.classifier import perceptron_eval
    from async_stream_processing_spark.llm.curation import packing_efficiency
    from async_stream_processing_spark.llm.dedup import (
        lsh_pair_recall,
        lsh_s_curve,
    )
    from async_stream_processing_spark.llm.similarity import (
        kmeans_silhouette,
        knn_ivfpq,
        knn_lsh,
        knn_sq8,
        recall_at_k,
    )
    from async_stream_processing_spark.llm.text_analysis import (
        bpe_coverage,
        langid_confusion,
    )
    from async_stream_processing_spark.sources.parquet import load_table

    docs = load_table(spark, SF_DIR, "documents")
    emb = load_table(spark, SF_DIR, "embeddings")

    # 1. the ANN compression ladder, measured rung by rung
    for label, index in [
        ("LSH bucket index", knn_lsh),
        ("IVF-PQ", knn_ivfpq),
        ("SQ8 integer SDC", knn_sq8),
    ]:
        show(recall_at_k(emb, index(emb, n_queries=5, k=3), 5, 3), n=5,
             label=f"{label}: recall@3 vs exact")

    # 2. the dedup blocker: one aggregate row, then WHERE the cliff sits
    show(lsh_pair_recall(docs, threshold=0.25), n=1,
         label="MinHash-LSH blocker: candidate precision/recall @ J>=0.25")
    show(lsh_s_curve(docs).orderBy("j_bin"), n=20,
         label="Detection S-curve: catch rate per true-Jaccard bin")

    # 3. clustering quality per cell (the n_centroids dial)
    show(kmeans_silhouette(emb, n_centroids=4).orderBy("centroid_id"), n=4,
         label="Simplified silhouette per cell")

    # 4. tokenizer + packer efficiency per source
    show(bpe_coverage(docs, n_merges=3).orderBy("source"), n=5,
         label="BPE compression per source (tokens-after / symbols)")
    show(packing_efficiency(docs, budget=512).orderBy("source"), n=5,
         label="Packing fill ratio per source")

    # 5. the two classifiers, measured against their labels
    show(langid_confusion(docs).orderBy("lang_label", "lang_pred"), n=10,
         label="Lang-id confusion matrix (diagonal = recall)")
    ev = perceptron_eval(docs, n_buckets=32, n_rounds=2)
    show(ev, n=1, label="Quality perceptron: held-out precision/recall")
    return ev


if __name__ == "__main__":
    spark = get_example_spark()
    main(spark)
