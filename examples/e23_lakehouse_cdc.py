"""Lakehouse CDC lifecycle: merge -> change feed -> pruned scan ->
compact -> vacuum.

The round-7 lake surface composed end to end: a CDC batch MERGEs into
the versioned corpus as one copy-on-write commit (only files holding a
matched key rewrite), a downstream consumer reads the version diff as a
change feed (inserts/deletes, file-granularity), a needle query prunes
by the manifest's footer-stat ranges without opening cold files, and
OPTIMIZE+vacuum reclaim the small files a streaming writer left behind
-- the maintenance loop a 100 TB lakehouse runs daily.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from common import get_example_spark, show

SF_DIR = "/root/testdata/sf0.001"


def _main(spark, tmp: str):
    from async_stream_processing_spark.plans.versioned import (
        commit_append,
        compact,
        merge_into,
        read_version,
        scan_version,
        table_changes,
        vacuum,
        versions,
    )
    from async_stream_processing_spark.sources.parquet import load_table

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    lake = tempfile.mkdtemp(prefix="asp_lakehouse_cdc_", dir=tmp)

    # v1..v2: two stat-tracked appends (footer min/max in the manifest)
    n = docs.count()
    half = (n + 1) // 2
    for i in range(2):
        commit_append(
            docs.filter(
                (F.col("doc_id") >= i * half)
                & (F.col("doc_id") < (i + 1) * half)
            ).coalesce(1),
            lake, stats_cols=["doc_id"],
        )

    # v3: a CDC batch -- re-crawled docs update, takedowns delete
    cdc = docs.filter(F.col("doc_id") % 9 == 0).select(
        "doc_id",
        F.upper("text").alias("text"), F.col("lang"), F.col("source"),
        "n_chars",
        (F.col("doc_id") % 18 == 0).alias("is_delete"),
    )
    v3 = merge_into(spark, lake, cdc, ["doc_id"], delete_col="is_delete")
    print(f"merged CDC as v{v3}; versions {versions(lake)}")

    # downstream consumer: what changed between v2 and the merge?
    feed = table_changes(spark, lake, 2, v3)
    show(
        feed.groupBy("_change_type").count().orderBy("_change_type"),
        n=2, label="Change feed v2 -> v3",
    )

    # needle query: manifest-stat pruning (no cold-file footers opened)
    needle = scan_version(spark, lake, "doc_id", 5, 15)
    show(needle.select("doc_id", "lang"), n=3,
         label="Stat-pruned range read")

    # maintenance: compact the head, reclaim superseded files
    v4 = compact(spark, lake, target_files=1)
    stats = vacuum(lake, keep_last=1)
    print(f"compacted as v{v4}; vacuum removed "
          f"{stats['files_removed']} files")
    head = read_version(spark, lake)
    deleted = docs.filter(
        (F.col("doc_id") % 9 == 0) & (F.col("doc_id") % 18 == 0)
    ).count()
    assert head.count() == n - deleted
    return head.select("doc_id").limit(5).localCheckpoint()


def main(spark):
    with tempfile.TemporaryDirectory(prefix="e23_") as tmp:
        return _main(spark, tmp)


if __name__ == "__main__":
    spark = get_example_spark()
    main(spark)
