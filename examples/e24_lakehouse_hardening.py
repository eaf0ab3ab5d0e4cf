"""Round-8 lakehouse hardening + the cheap end of the ANN ladder.

Composes the round-8 surface end to end: a STREAMING ingest whose sink
runs the auto-maintenance policy (compaction every N commits, vacuum to
a version budget -- the lake stays small-file-free without an external
job), a schema-evolution MERGE (the CDC batch carries a NEW column,
Delta mergeSchema-on-MERGE semantics), a ROW-LEVEL change feed that
nets the copy-on-write carried-row churn out of the version diff, an
OPTIMIZE ZORDER compaction whose recomputed stats prune 2-D needle
queries, and a 1-bit Hamming prefilter search over binary sign codes
(16 bytes/vector) with its recall row measured against exact brute
force before anyone trusts it.

No reference analog (the reference engine has no storage or vector
layer); this is the 100 TB-posture surface the engine adds on top of
reference parity.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from common import get_example_spark, show

SF_DIR = "/root/testdata/sf0.001"


def _main(spark, tmp: str):
    from async_stream_processing_spark.llm.similarity import (
        hamming_recall,
        knn_hamming,
    )
    from async_stream_processing_spark.plans.versioned import (
        compact,
        merge_into,
        read_version,
        scan_version,
        table_changes,
        versioned_sink,
        versions,
    )
    from async_stream_processing_spark.sources.parquet import load_table
    from async_stream_processing_spark.streaming.replay import (
        await_drain,
        land_batches,
        replay_stream,
    )

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    lake = os.path.join(tmp, "lake")

    # --- streaming ingest with the maintenance policy: 8 micro-batches,
    # compaction every 3 commits, history vacuumed to the last 3
    # versions -- the week-long stream that does NOT end as 10^5 small
    # files and manifests
    src = land_batches(docs.withColumn("__b", F.col("doc_id") % 8), "__b",
                       8, os.path.join(tmp, "src"))
    stream = replay_stream(spark, src, spark.read.parquet(src).schema,
                           max_files_per_trigger=1)
    q = versioned_sink(stream, lake, os.path.join(tmp, "ck"),
                       compact_every=3, compact_target_files=1,
                       vacuum_keep=3)
    await_drain(q, 120)
    head_files = len(
        read_version(spark, lake).inputFiles()
    )
    show(
        spark.createDataFrame(
            [(len(versions(lake)), head_files,
              read_version(spark, lake).count())],
            "live_versions int, live_files int, rows long",
        ),
        label="after 8 streaming commits + auto-compact/vacuum",
    )

    # --- schema-evolution MERGE: the re-crawl batch now carries a
    # quality score column the lake has never seen
    cdc = docs.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id", F.upper("text").alias("text"), "lang", "source",
        "n_chars", (F.col("n_chars") * 2).alias("score"),
        F.lit(False).alias("is_delete"),
    )
    v_pre = versions(lake)[-1]
    merge_into(spark, lake, cdc, ["doc_id"], delete_col="is_delete",
               merge_schema=True)
    head = read_version(spark, lake, merge_schema=True)
    show(
        head.groupBy(F.col("score").isNotNull().alias("scored"))
        .count().orderBy("scored"),
        label="post-merge head: carried rows read the new column as NULL",
    )

    # --- row-level change feed across the merge: carried CoW rows
    # self-cancel; what survives is the update pre+post images
    feed = table_changes(spark, lake, v_pre, versions(lake)[-1],
                         row_level=True)
    show(
        feed.groupBy("_change_type").count().orderBy("_change_type"),
        label="row-level CDF (file-level churn netted out)",
    )

    # --- OPTIMIZE ZORDER on (doc_id, n_chars): the 2-D needle scan
    # prunes on BOTH columns from manifest stats alone
    compact(spark, lake, target_files=4,
            cluster_by=["doc_id", "n_chars"], zorder_bits=10)
    needle = scan_version(
        spark, lake,
        ranges={"doc_id": (100, 160), "n_chars": (0, 400)},
    )
    show(needle.agg(F.count(F.lit(1)).alias("needle_rows")),
         label="stat-pruned 2-D needle after clustered compaction")

    # --- 1-bit Hamming prefilter search + its measured recall row
    emb = load_table(spark, SF_DIR, "embeddings")
    show(knn_hamming(emb, n_queries=3, k=3),
         label="Hamming top-3 over packed sign bits (16 B/vector)")
    recall_row = hamming_recall(emb, n_queries=10, k=5).agg(
        F.avg("recall").alias("mean_recall_at_5")
    )
    show(recall_row,
         label="recall vs exact cosine -- measure before trusting the rung")
    return {
        "live_versions": len(versions(lake)),
        "head_rows": read_version(spark, lake).count(),
        "needle_rows": needle.count(),
        "mean_recall_at_5": recall_row.first()["mean_recall_at_5"],
    }


def main(spark):
    with tempfile.TemporaryDirectory(prefix="e24_") as tmp:
        return _main(spark, tmp)


if __name__ == "__main__":
    main(get_example_spark())
