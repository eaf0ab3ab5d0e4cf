"""Streaming replay: the past -> live lifecycle on Structured Streaming.

The reference's core loop replays a historical iterable at maximum speed,
fires ``on_live_start``, then consumes an async iterator live
(``/root/reference/src/async_stream_processing/processor.py:185-194``).
Spark-native equivalents, in order of fidelity:

* :func:`replay_stream` -- a file-source streaming DataFrame over the same
  parquet the batch path reads.  ``Trigger.AvailableNow`` drains the entire
  backlog (the "past" phase) and stops; omitting it keeps the query alive
  for files that arrive later (the "live" phase).  maxFilesPerTrigger
  bounds micro-batch size so backfill paces itself.
* :func:`land_batches` -- lands a DataFrame as ``n`` ordered files, one
  per value of an int batch column, so :func:`replay_stream` with
  ``max_files_per_trigger=1`` delivers them as ``n`` micro-batches in
  that order: a recorded past whose batch boundaries are fixed.
* :func:`process_stream` -- the reference's A3 entry point re-expressed:
  bind a per-batch callback (``foreachBatch``), with ``on_start`` /
  ``on_live_start`` lifecycle hooks.  Live-start is detected the way the
  engine itself does it: the first micro-batch that arrives after the
  initial backlog drains (tracked via a zero-row or post-start batch id).
* :func:`merge_streams_live` -- union of streaming sources; the global
  ``(ts, seq)`` order of the batch engine becomes watermark-ordered
  processing (late rows beyond the watermark are dropped -- the reference
  has NO late tolerance at all, SURVEY §2 note on late data, so any
  watermark is strictly more forgiving).

Streaming state at scale: every stateful op here keys its state (user,
symbol) -- state stores shard by key across executors; use RocksDB
(``spark.sql.streaming.stateStore.providerClass``) for 100 TB runs.
"""

from __future__ import annotations

import threading
from collections.abc import Callable
from contextlib import contextmanager
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..session import PINNED_SHUFFLE_PARTITIONS


def replay_stream(
    spark: SparkSession,
    path: str,
    schema: str | Any,
    ts_col: str = "ts",
    watermark: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming DataFrame replaying a parquet directory as the 'past'.

    ``watermark=None`` leaves watermarking to the downstream stateful
    operator (Spark forbids redefining it); pass e.g. ``"0 seconds"`` for a
    bare replay-to-sink pipeline -- the reference processes events at their
    stated event time with no reordering buffer (SURVEY §4.2), so 0 is the
    faithful setting.
    """
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(path)
    if watermark is not None:
        df = df.withWatermark(ts_col, watermark)
    return df


def land_batches(df: DataFrame, batch: str, n: int, path: str) -> str:
    """Land the rows of ``df`` whose int ``batch`` column equals ``i`` as
    the ``i``-th parquet file under ``path``, for each ``i`` in
    ``[0, n)``, and return ``path``.  Every bucket must hold a row.

    One write job lands all buckets (hive-partitioned by ``batch``, one
    file per bucket); each part file is then moved to
    ``path/events_<i:03d>.parquet`` and given a distinct ascending
    mtime, which pins the file source's oldest-first order.  So
    :func:`replay_stream` over ``path`` with ``max_files_per_trigger=1``
    delivers bucket ``i`` as micro-batch ``i``.  The ``batch`` column is
    not in the files."""
    import os
    import shutil

    sub = os.path.join(path, "__by_bucket")
    df.repartition(n, batch).write.partitionBy(batch) \
        .mode("overwrite").parquet(sub)
    for i in range(n):
        bdir = os.path.join(sub, f"{batch}={i}")
        part = next(
            f for f in os.listdir(bdir)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        dst = os.path.join(path, f"events_{i:03d}.parquet")
        os.replace(os.path.join(bdir, part), dst)
        os.utime(dst, (1_600_000_000 + i * 10, 1_600_000_000 + i * 10))
    shutil.rmtree(sub)
    return path


def _data_files(root: str) -> set[str]:
    """Data files under ``root`` the way Spark's file source sees them:
    recursive, skipping hidden/metadata entries (``_``/``.`` prefixes).
    Paths are normalized scheme-less absolute strings."""
    import os

    out: set[str] = set()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        for f in filenames:
            if not f.startswith(("_", ".")):
                out.add(os.path.abspath(os.path.join(dirpath, f)))
    return out


def _strip_scheme(path: str) -> str:
    """Normalize a path for set comparison: drop the URI scheme AND
    percent-decode -- the source WAL stores Hadoop-encoded URIs
    (``my%20corpus``), while ``os.walk`` yields raw filesystem paths;
    comparing them un-decoded would silently never match for any
    past_path containing a space/'#'/'%'/non-ASCII character (and the
    live-start hook would never fire)."""
    from urllib.parse import unquote

    p = path.split("://", 1)[-1] if "://" in path else path
    if p.startswith("file:"):
        p = p[len("file:"):]
    return unquote(p)


def _logged_source_files(checkpoint: str, before_batch: int) -> set[str]:
    """Files the file source has WAL'd to batches STRICTLY BEFORE
    ``before_batch``, from the checkpoint's source metadata log
    (``<ckpt>/sources/<i>/<log>`` -- "v1" header + one JSON entry per
    file carrying its ``batchId``; compacted logs repeat the full
    history, so a plain union stays complete).  The source writes a
    batch's entries during offset discovery, BEFORE the batch executes,
    so at batch k this set is exactly "what batches 0..k-1 consumed" --
    the drain boundary -- and it persists across restarts, which is
    what makes live-start detection checkpoint-safe: a resumed query
    never redelivers committed batches, so runtime observation alone
    would under-count the drained backlog."""
    import json
    import os

    seen: set[str] = set()
    src_root = os.path.join(checkpoint, "sources")
    if not os.path.isdir(src_root):
        return seen
    for dirpath, _dirs, files in os.walk(src_root):
        for f in files:
            if f.startswith("."):
                continue
            try:
                with open(os.path.join(dirpath, f)) as fh:
                    for line in fh:
                        line = line.strip()
                        if line.startswith("{"):
                            entry = json.loads(line)
                            if "path" in entry and entry.get(
                                "batchId", -1
                            ) < before_batch:
                                seen.add(_strip_scheme(entry["path"]))
            except (OSError, ValueError):
                continue
    return seen


def process_stream(
    stream: DataFrame,
    callback: Callable[[DataFrame, int], None],
    on_start: Callable[[], None] | None = None,
    on_live_start: Callable[[], None] | None = None,
    checkpoint: str | None = None,
    available_now: bool = True,
    past_path: str | None = None,
):
    """A3 ``process_stream`` (processor.py:169-194) on foreachBatch.

    ``callback(batch_df, batch_id)`` replaces the per-event callback --
    batch-at-a-time is the Spark-native contract (vectorized, not
    row-at-a-time).  ``on_start`` fires before the query starts.

    ``on_live_start`` fires when the recorded past is EXHAUSTED -- the
    reference's semantics (processor.py:190-191: the hook runs after the
    ``past`` iterable is fully consumed, before the first live event),
    NOT at any fixed batch id.  The reference receives past and future
    as separate arguments, so the Spark form needs the same information:
    ``past_path`` names the recorded-past directory (the one given to
    :func:`replay_stream`).  Detection is source-side and restart-safe:

    * the backlog is snapshotted as the set of data files under
      ``past_path`` at call time;
    * the drain boundary comes from the file source's OWN metadata log
      in the checkpoint (each file is WAL'd with the batch id that
      consumes it, before that batch runs): at batch ``k`` the past is
      exhausted iff every backlog file is logged to a batch ``< k``.
      A multi-batch backfill (``maxFilesPerTrigger``) therefore stays
      "past" for batches 0..n-1, however many there are, and the hook
      fires BEFORE the first truly-live batch's callback;
    * because that log persists, a RESTARTED query neither re-fires
      mid-backfill nor waits for batches that will never be redelivered
      -- the prior run's consumed files are simply already logged.
    * without a checkpoint the detection falls back to
      ``batch_df.inputFiles()`` accumulation until the hook fires
      (works for single-source streams; a union's micro-batch plan
      does not expose file names, so pass ``checkpoint`` for merged
      past+live streams -- the lifecycle shape that wants
      ``on_live_start`` should be checkpointed anyway).

    A batch that STRADDLES the boundary (last backlog file + first live
    file under one trigger) is processed before the hook -- the
    batch-at-a-time analog of the reference's event boundary.  With
    ``available_now`` the query stops at drain, so the hook only ever
    fires if a live phase exists (pass ``available_now=False`` for the
    reference's past-into-live lifecycle).  Returns the StreamingQuery.
    """
    import os

    if on_start is not None:
        on_start()
    if on_live_start is not None and past_path is None:
        raise ValueError(
            "on_live_start needs past_path (the recorded-past directory): "
            "live-start is defined as the moment that backlog drains"
        )

    if on_live_start is not None:
        backlog = {_strip_scheme(p) for p in _data_files(past_path)}
        seen: set[str] = set()  # inputFiles fallback (no-checkpoint runs)
        state = {"fired": False}

        def _each(batch_df: DataFrame, batch_id: int) -> None:
            if not state["fired"]:
                drained_by = set(seen)
                if checkpoint:
                    drained_by |= _logged_source_files(checkpoint, batch_id)
                if not (backlog - drained_by):
                    state["fired"] = True
                    on_live_start()
            callback(batch_df, batch_id)
            if not (state["fired"] or checkpoint):
                seen.update(_strip_scheme(p) for p in batch_df.inputFiles())

    else:

        def _each(batch_df: DataFrame, batch_id: int) -> None:
            callback(batch_df, batch_id)

    writer = stream.writeStream.foreachBatch(_each)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def merge_streams_live(*streams: DataFrame) -> DataFrame:
    """Union live streams by name (null-filled), the streaming analog of
    plans.event_relation.merge_streams."""
    out = streams[0]
    for s in streams[1:]:
        out = out.unionByName(s, allowMissingColumns=True)
    return out


def stream_dedup_within_watermark(
    stream: DataFrame, keys: list[str], watermark_col: str = "ts", delay: str = "10 minutes"
) -> DataFrame:
    """B1 first-seen, live: state-bounded dedup -- duplicates arriving
    within the watermark horizon are dropped; state for old keys is
    evicted (bounded memory at any scale)."""
    return stream.withWatermark(watermark_col, delay).dropDuplicatesWithinWatermark(keys)


def sliding_window_agg(
    stream: DataFrame,
    window: str = "2 minutes",
    slide: str = "1 minute",
    watermark: str = "2 minutes",
    value: str = "value",
    partition_by: list[str] | None = None,
) -> DataFrame:
    """B9/B10 live: sliding-window weighted stats with watermark-driven
    state eviction (the reference prunes its Polars buffer on insert,
    e2_stats.py:63-65; the watermark is the same bound, engine-managed)."""
    keys = [F.window("ts", window, slide).alias("win")] + [
        F.col(c) for c in (partition_by or [])
    ]
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col(value).cast("decimal(18,2)")).cast("double").alias("sum_value"),
            F.avg(value).alias("avg_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *[F.col(c) for c in (partition_by or [])],
            "n_events", "sum_value", "avg_value",
        )
    )


def stream_static_enrich(stream: DataFrame, dim: DataFrame, on: list[str]) -> DataFrame:
    """Stream-static join: enrich each micro-batch against a (slowly
    changing) dimension.  Spark re-plans the static side per batch, so a
    small dim broadcasts -- zero stream shuffle.  The reference's analog is
    a callback closing over a lookup dict."""
    return stream.join(dim, on, "left")


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    within: str = "1 minute",
    left_watermark: str = "2 minutes",
    right_watermark: str = "2 minutes",
) -> DataFrame:
    """Stream-stream inner join keyed on ``on``, right event within
    ``[left.ts - within, left.ts]`` (the streaming cousin of the as-of
    join: both sides buffer in the state store, watermarks bound eviction).
    """
    from pyspark.sql import functions as F

    lt = left.withWatermark("ts", left_watermark).alias("l")
    rt = right.withWatermark("ts", right_watermark).alias("r")
    return lt.join(
        rt,
        F.expr(
            f"l.{on} = r.{on} AND r.ts BETWEEN l.ts - INTERVAL {within} AND l.ts"
        ),
    )


def await_drain(q: StreamingQuery, timeout_s: float) -> None:
    """Wait for a finite (``availableNow``) query to finish.  On timeout,
    stop it and raise with its last progress: a caller must never read
    a half-drained sink as the answer.  A failed query raises from
    ``awaitTermination`` itself."""
    if not q.awaitTermination(timeout_s):
        progress = q.lastProgress
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name or q.id} still running after "
            f"{timeout_s} s; stopped. lastProgress: {progress}"
        )


#: per-process tally of micro-batches drained (bench reads + resets
#: this around each query so fixed micro-batch drain overhead is
#: visible per stream query instead of being misread as operator cost
#: -- r9 verdict item 10)
DRAIN_BATCH_TALLY = {"batches": 0, "drains": 0}


def drain(stream_df: DataFrame, output_mode: str = "complete",
          timeout_s: int = 300) -> DataFrame:
    """Run a streaming plan to completion over its current source contents
    and return the final result as a batch DataFrame.

    This is how streaming execution itself goes under the batch/SQL
    oracle: the plan runs through the micro-batch engine (state store,
    incremental aggregation), not the batch planner, and the drained
    result must still hash-match the oracle.

    One partition count: the query starts at ``PINNED_SHUFFLE_PARTITIONS``
    (``session.py``), whatever the session's own setting.  A streaming
    query keeps the conf it had at ``start()``, so the setting covers only
    the start and is restored right after it.

    One sink: every micro-batch is written by the executors to one temp
    parquet directory through ``foreachBatch`` -- ``overwrite`` in
    complete mode (the last snapshot is the answer), ``append`` in the
    other modes (the batches together are the answer).  Nothing passes
    through the driver in any mode, so a result the size of the
    cluster's storage still drains.  The return value is a lazy read of
    that directory with the stream's schema (zero rows if no batch ran),
    so the directory lives until process exit.  A drain that fails -- a
    timeout or a query exception -- removes it at once and re-raises.
    """
    import atexit
    import shutil
    import tempfile

    spark = stream_df.sparkSession
    out_dir = tempfile.mkdtemp(prefix="asp_drain_")
    write_mode = "overwrite" if output_mode == "complete" else "append"

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        DRAIN_BATCH_TALLY["batches"] += 1
        batch_df.write.mode(write_mode).parquet(out_dir)

    try:
        with shuffle_guard(spark):
            q = (
                stream_df.writeStream.foreachBatch(_write)
                .outputMode(output_mode)
                .trigger(availableNow=True)
                .start()
            )
        await_drain(q, timeout_s)
    except BaseException:
        shutil.rmtree(out_dir, ignore_errors=True)
        raise
    atexit.register(shutil.rmtree, out_dir, ignore_errors=True)
    DRAIN_BATCH_TALLY["drains"] += 1
    return spark.read.schema(stream_df.schema).parquet(out_dir)


#: serializes the session-conf overrides below, so two overlapping
#: guarded sections (a drain's start, a batch loop) cannot restore each
#: other's temporary value as the "previous" one.
_GUARD_LOCK = threading.RLock()


@contextmanager
def shuffle_guard(spark: SparkSession):
    """Set ``spark.sql.shuffle.partitions`` to ``PINNED_SHUFFLE_PARTITIONS``
    and pin AQE off for one section, under ``_GUARD_LOCK``, and restore
    both afterwards even if the section raises.

    Two kinds of section use it.  A streaming query keeps the conf it
    had at ``start()``, so :func:`drain` -- and a caller that starts
    another sink (``versioned_sink``, ``upsert_sink``) and awaits it with
    :func:`await_drain` -- guards only the starting call.  The two
    iterative batch loops (``kmeans_train``, ``connected_components``)
    read conf at every action and so guard the whole loop.  (Spark turns
    AQE off in a stateful micro-batch by itself.)"""
    pinned = {
        "spark.sql.shuffle.partitions": str(PINNED_SHUFFLE_PARTITIONS),
        "spark.sql.adaptive.enabled": "false",
    }
    with _GUARD_LOCK:
        prev = {k: spark.conf.get(k) for k in pinned}
        for k, v in pinned.items():
            spark.conf.set(k, v)
        try:
            yield
        finally:
            for k, v in prev.items():
                spark.conf.set(k, v)

