"""Versioned corpus lifecycle: commit -> append -> dedup -> audit.

Composes the manifest-based versioned lake (plans/versioned.py) with
the incremental-dedup posture: every training run pins the exact corpus
snapshot it consumed, a later ingest lands as a NEW version without
disturbing pinned readers, and the dedup/provenance questions ("what
did v1 contain", "which v2 docs near-duplicate v1") are answered by
time-traveled reads -- the audit trail a 100 TB curation pipeline keeps.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from common import get_example_spark, show

SF_DIR = "/root/testdata/sf0.001"


def _main(spark, tmp: str):
    from async_stream_processing_spark.llm.dedup import (
        doc_shingle_hashes,
        jaccard_pairs_direct,
    )
    from async_stream_processing_spark.plans.versioned import (
        commit_append,
        read_version,
        vacuum,
        versions,
    )
    from async_stream_processing_spark.sources.parquet import load_table

    docs = load_table(spark, SF_DIR, "documents")
    lake = tempfile.mkdtemp(prefix="asp_versioned_corpus_", dir=tmp)

    # v1: the initial crawl (say, the first 4/5 of the corpus)
    v1 = commit_append(docs.filter(F.col("doc_id") % 5 != 0), lake)
    print(f"committed v{v1}: "
          f"{read_version(spark, lake, v1).count()} docs")

    # v2: a later ingest appends -- v1 readers are untouched
    v2 = commit_append(docs.filter(F.col("doc_id") % 5 == 0), lake)
    print(f"committed v{v2}: "
          f"{read_version(spark, lake, v2).count()} docs at head, "
          f"{read_version(spark, lake, v1).count()} still at pinned v1")

    # audit: which newly ingested docs near-duplicate the v1 snapshot?
    head = read_version(spark, lake)
    sh = doc_shingle_hashes(head)
    pairs = jaccard_pairs_direct(sh, 0.25).filter(
        (F.col("doc_a") % 5 == 0) != (F.col("doc_b") % 5 == 0)
    )
    show(pairs, n=5, label="New-vs-stored near-dup pairs at the head")

    # reclamation: drop v1's exclusive files once nothing pins it
    stats = vacuum(lake, keep_last=1)
    print(f"vacuum: kept {stats['versions_kept']}, "
          f"removed {stats['files_removed']} files; "
          f"versions now {versions(lake)}")
    head_rows = read_version(spark, lake)
    assert head_rows.count() == docs.count()
    return head_rows.select("doc_id").limit(5).localCheckpoint()


def main(spark):
    with tempfile.TemporaryDirectory(prefix="e22_") as tmp:
        return _main(spark, tmp)


if __name__ == "__main__":
    spark = get_example_spark()
    main(spark)
