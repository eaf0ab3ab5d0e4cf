"""Round-10 operations tour: out-of-order streams + flat-manifest lake.

Two production failure modes the reference never has to face (its
scheduler processes a strictly time-sorted heap in one process —
``/root/reference/src/async_stream_processing/processor.py:75-76``),
handled Spark-first:

1. **Disordered arrival**: a multi-partition log delivers events out
   of time order across micro-batches.  The reorder-buffered CUSUM
   fold (``streaming/reorder.py``) holds rows in state inside the
   watermark horizon, finalizes them in event-time order, and still
   matches the batch operator bit-for-bit.
2. **Manifest growth**: a lake's JSON manifest makes every pruned scan
   O(n_files) driver work.  ``checkpoint_manifest`` re-lands the stat
   ranges + Bloom filters + DV refs as parquet; pruned scans and point
   lookups then plan DISTRIBUTED with O(survivors) driver traffic.
"""

from __future__ import annotations

import sys
import tempfile


def main(spark):
    from pyspark.sql import functions as F

    sys.path.insert(0, ".")
    from __spark_entry__ import _REORDER_DELAY, _stream_time_shuffled
    from async_stream_processing_spark.plans.versioned import (
        checkpoint_manifest,
        commit_append,
        delete_where,
        lookup_version,
        scan_version,
    )
    from async_stream_processing_spark.sources.parquet import load_table
    from async_stream_processing_spark.streaming.folds import (
        FOLD_KINDS,
        cusum_kernel,
        final_rows,
    )
    from async_stream_processing_spark.streaming.reorder import (
        reordered_fold_stream,
    )
    from async_stream_processing_spark.streaming.replay import drain

    sf = "/root/testdata/sf0.001"

    # --- 1. out-of-order replay through the reorder-buffered fold ----
    s = _stream_time_shuffled(spark, sf).select(
        "ts", "event_id", "user_id",
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("long").alias("x"),
    )
    out = drain(reordered_fold_stream(s, "cusum", delay=_REORDER_DELAY),
                output_mode="append")
    finals = {
        r["user_id"]: (r["smax"], r["n_over"], r["n"])
        for r in final_rows(out, "cusum").collect()
    }
    # batch truth straight through the shared kernel
    rows = load_table(spark, sf, "events").select(
        "user_id", "ts", "event_id",
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("long").alias("x"),
    ).orderBy("ts", "event_id").collect()
    per: dict = {}
    for r in rows:
        per.setdefault(r["user_id"], []).append((r["x"], r["event_id"]))
    for uid, vs in per.items():
        c = cusum_kernel(FOLD_KINDS["cusum"].init, [a for a, _ in vs],
                         [b for _, b in vs])
        assert finals[uid] == (c[3], c[4], c[6]), uid
    print(f"out-of-order CUSUM exact for {len(per)} keys "
          f"(jittered replay, {_REORDER_DELAY} watermark)")

    # --- 2. checkpointed lake: flat-planning scans + lookups ---------
    with tempfile.TemporaryDirectory() as tmp:
        lake = f"{tmp}/lake"
        docs = load_table(spark, sf, "documents") \
            .select("doc_id", "source", "n_chars")
        commit_append(docs.repartitionByRange(6, "doc_id"), lake,
                      stats_cols=["doc_id", "n_chars"],
                      bloom_cols=["doc_id"], bloom_bits=1 << 12)
        delete_where(spark, lake, "doc_id % 10 = 3", mode="mor")
        v = checkpoint_manifest(spark, lake)
        hits = scan_version(spark, lake, "doc_id", 100, 140,
                            version=v).count()
        truth = docs.filter("doc_id between 100 and 140 "
                            "and doc_id % 10 != 3").count()
        assert hits == truth, (hits, truth)
        one = lookup_version(spark, lake, "doc_id", 42, version=v)
        assert one.count() == 1
        gone = lookup_version(spark, lake, "doc_id", 43, version=v)
        assert gone.count() == 0  # MOR-deleted, DV applied via checkpoint
        print(f"checkpointed scan/lookup exact at v{v} "
              f"({hits} rows in range, DV-deleted row invisible)")
    return finals


if __name__ == "__main__":
    from common import get_example_spark

    main(get_example_spark())
