"""Round-9 operational surface: undo, multi-writer streams, lateness.

Composes the round-9 additions end to end on one lake:

* a BAD merge clobbers the corpus and ``restore()`` undoes it as a NEW
  head commit — zero files copied, history preserved (the bad version
  stays auditable), and a follow-up merge lands on the restored content;
* TWO streaming sinks write the same lake under distinct ``txn_app_id``s
  (the Delta ``txnAppId`` idea) — their crash-redelivery batch-id
  watermarks stay independent, so neither masks the other's batches;
* a LATE-arrival replay through a real watermark: beyond-horizon rows
  drop, within-horizon stragglers aggregate (the reference has NO late
  tolerance at all — SURVEY §2 — so any watermark is strictly more
  forgiving);
* the BOUNDED-STATE streaming CUSUM fold (O(1) sufficient statistics per
  key, never the event history) agreeing exactly with its batch twin;
* the Hamming-prefilter + exact-rerank serving pipeline with its recall
  row measured before anyone trusts it.

No reference analog (the reference engine has no storage, recovery, or
vector layer); this is the operational posture a 100 TB deployment needs
on top of reference parity.
"""

from __future__ import annotations

import os
import sys
import tempfile

from pyspark.sql import functions as F

from common import get_example_spark, show

SF_DIR = "/root/testdata/sf0.001"


def _main(spark, tmp: str):
    from async_stream_processing_spark.plans.versioned import (
        commit_append,
        last_committed_batch_id,
        merge_into,
        read_version,
        restore,
        versioned_sink,
        versions,
    )
    from async_stream_processing_spark.sources.parquet import load_table
    from async_stream_processing_spark.streaming.replay import (
        await_drain,
        drain,
        land_batches,
        replay_stream,
    )

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    import __spark_entry__ as entry

    def replay(path):
        return replay_stream(spark, path, spark.read.parquet(path).schema,
                             max_files_per_trigger=1)

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )

    # --- 1. bad merge -> RESTORE -> good merge --------------------------
    lake = os.path.join(tmp, "lake")
    commit_append(docs, lake)
    bad = docs.select(
        "doc_id", F.lit("CORRUPTED").alias("text"),
        F.lit("bad").alias("lang"), "source", "n_chars",
    )
    merge_into(spark, lake, bad, ["doc_id"])  # v2: the mistake
    assert read_version(spark, lake).filter(
        F.col("lang") == "bad").count() == docs.count()
    v = restore(lake, 1)  # v3: the undo — O(1) metadata, no file copies
    good = docs.filter(F.col("doc_id") % 9 == 0).select(
        "doc_id", "text", F.lit("fixed").alias("lang"), "source", "n_chars",
    )
    merge_into(spark, lake, good, ["doc_id"])  # v4: lands on restored data
    head = read_version(spark, lake)
    assert head.filter(F.col("lang") == "bad").count() == 0
    show(
        spark.createDataFrame(
            [(v, len(versions(lake)),
              head.filter(F.col("lang") == "fixed").count())],
            "restored_as_version long, live_versions long, fixed_rows long",
        ),
        label="restore: bad merge undone, history preserved, merge-on-top",
    )

    # --- 2. two streaming sinks, independent batch-id watermarks --------
    src_a = land_batches(docs.withColumn("__b", F.col("doc_id") % 3),
                         "__b", 3, os.path.join(tmp, "src_a"))
    src_b = land_batches(docs.limit(50).withColumn("__b", F.lit(0)),
                         "__b", 1, os.path.join(tmp, "src_b"))

    def sink(src, app):
        return versioned_sink(replay(src), lake,
                              os.path.join(tmp, f"ck_{app}"), txn_app_id=app)

    await_drain(sink(src_a, "ingest-a"), 120)
    # stream A committed batches 0..2; stream B's batch 0 must NOT be
    # masked by A's watermark (the pre-r9 single watermark would skip it)
    await_drain(sink(src_b, "ingest-b"), 120)
    wa = last_committed_batch_id(lake, "ingest-a")
    wb = last_committed_batch_id(lake, "ingest-b")
    assert wa == 2 and wb == 0, (wa, wb)
    show(
        spark.createDataFrame([("ingest-a", wa), ("ingest-b", wb)],
                              "txn_app_id string, batch_watermark long"),
        label="per-app idempotence watermarks: B's batch 0 not masked by A",
    )

    # --- 3. late data through a real watermark --------------------------
    ev = load_table(spark, SF_DIR, "events")
    # the registry's late-data fixture: two on-time slices, then the
    # event_id % 10 == 7 rows arriving LATE as the third micro-batch
    stream = replay(land_batches(ev.withColumn("__b", entry._late_bucket()),
                                 "__b", 3, os.path.join(tmp, "late")))

    windows = drain(
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(F.count(F.lit(1)).alias("n_events")),
        output_mode="append",
    )
    n_in_windows = windows.agg(F.sum("n_events")).first()[0]
    n_total = ev.count()
    assert n_in_windows < n_total  # beyond-horizon late rows dropped
    show(
        spark.createDataFrame(
            [(n_total, int(n_in_windows), n_total - int(n_in_windows))],
            "events_sent long, events_aggregated long, dropped_or_open long",
        ),
        label="late rows beyond the 30-min watermark were dropped",
    )

    # --- 4. bounded-state streaming CUSUM == batch CUSUM -----------------
    stream_cusum = entry.q_stream_cusum(spark, SF_DIR)
    batch_cusum = entry.q_cusum_drift(spark, SF_DIR)
    assert stream_cusum.exceptAll(batch_cusum).count() == 0
    assert batch_cusum.exceptAll(stream_cusum).count() == 0

    # --- 5. binary prefilter + exact rerank, recall measured ------------
    from async_stream_processing_spark.llm.similarity import (
        knn_hamming_rerank,
        recall_at_k,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    top = knn_hamming_rerank(emb, n_queries=10, k=5, r=20)
    recall = recall_at_k(emb, top, 10, 5).agg(
        F.avg("recall").alias("mean_recall_at_5")
    )
    show(top, n=5, label="Hamming top-R prefilter -> exact cosine rerank")
    show(recall, label="rerank recall vs exact — measured, not assumed")

    return {
        "restored_version": v,
        "watermarks": {"ingest-a": wa, "ingest-b": wb},
        "late_rows_excluded": n_total - int(n_in_windows),
        "stream_cusum_rows": stream_cusum.count(),
        "mean_rerank_recall": recall.first()["mean_recall_at_5"],
    }


def main(spark):
    with tempfile.TemporaryDirectory(prefix="e25_") as tmp:
        return _main(spark, tmp)


if __name__ == "__main__":
    main(get_example_spark())
