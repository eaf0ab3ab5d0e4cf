"""Vector-index lifecycle over the embeddings table: product-quantization
encode (64 floats -> 8 codes), ADC top-k search against the code table,
recall measurement of the approximate indexes vs exact brute force, and
PQ-prefix blocking for embedding dedup.

Every operator here is oracle-checked in `__spark_entry__.py`
(pq_codes, knn_pq_adc, ann_recall, pq_dedup_groups, knn_bruteforce);
this example shows the composition an embedding pipeline runs: encode
once, search cheap, MEASURE the recall tradeoff before trusting the
index, and reuse the codes for dedup blocking.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from common import get_example_spark, show

SF_DIR = "/root/testdata/sf0.001"


def main(spark):
    from async_stream_processing_spark.llm.similarity import (
        knn_lsh,
        knn_pq_adc,
        pq_codes,
        pq_dedup_groups,
        recall_at_k,
    )
    from async_stream_processing_spark.sources.parquet import load_table

    emb = load_table(spark, SF_DIR, "embeddings")

    codes = pq_codes(emb, m=8, ksub=16, d=64)
    show(codes, n=5, label="PQ code words (32x smaller than the vectors)")

    adc = knn_pq_adc(emb, n_queries=5, k=3)
    show(adc, n=6, label="ADC top-3 per query (integer adds, no float math)")

    # how good is the cheap index? measure, don't guess
    show(recall_at_k(emb, adc, 5, 3), n=5,
         label="PQ-ADC recall@3 vs exact (per query)")
    show(
        recall_at_k(emb, knn_lsh(emb, n_queries=5, k=3, n_planes=6), 5, 3),
        n=5,
        label="LSH index recall@3 vs exact",
    )

    # the same codes double as the dedup blocking function
    groups = pq_dedup_groups(emb, block_m=4)
    show(
        groups.orderBy(F.desc("n_vecs"), "rep_vec_id"),
        n=5,
        label="PQ-prefix dedup candidate groups",
    )

    # index MAINTENANCE: a new ingest batch merges into a
    # cell-partitioned IVF-PQ store without a rebuild -- encode against
    # the serving model, rewrite only the touched cell directories
    import shutil
    import tempfile

    from async_stream_processing_spark.llm.similarity import (
        ivfpq_encode,
        ivfpq_read_codes,
        ivfpq_upsert,
        ivfpq_write_store,
    )

    store = tempfile.mkdtemp(prefix="e18_ivfpq_")
    shutil.rmtree(store)
    try:
        corpus = emb.filter(F.col("vec_id") % 50 != 37)
        batch = emb.filter(F.col("vec_id") % 50 == 37)
        codes_long, coarse, rcode = ivfpq_encode(corpus)
        ivfpq_write_store(codes_long, store)
        touched = ivfpq_upsert(spark, store, batch, coarse, rcode)
        n_cells = len(coarse)
        print(
            f"upsert touched {len(touched)}/{n_cells} cells "
            f"({sorted(touched)}); untouched cell files unchanged"
        )
        show(
            ivfpq_read_codes(spark, store).groupBy("cell").count().orderBy("cell"),
            n=8,
            label="code store after upsert (per-cell row counts)",
        )
    finally:
        shutil.rmtree(store, ignore_errors=True)
    return groups


if __name__ == "__main__":
    spark = get_example_spark()
    main(spark)
