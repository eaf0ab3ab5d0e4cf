"""``past_to_live``: drain a backlog, then keep up with live arrivals.

The generator lands a backlog of time-ordered parquet files whose rows
carry bounded event-time jitter across file boundaries.  The backlog
drains one file per micro-batch through the reorder-buffered EWMA fold
(``streaming.reorder.reordered_fold_stream``, Python
``applyInPandasWithState``) into the versioned lake
(``plans.versioned.versioned_sink``, ``Trigger.AvailableNow``).  The
same plan then restarts from the same checkpoint as a live query
(``streaming.replay.process_stream``, each batch committed with
``plans.versioned.commit_append`` as ``versioned_sink`` does, because
``versioned_sink`` only drains), and an open loop lands one small live
file every ``1 / LIVE_RATE_PER_S`` seconds.

It loads the micro-batch machinery, the Python state server, the state
store, file-source discovery and many small lake commits; it bypasses
``operators`` and ``llm``.

Units: every backlog micro-batch and every live arrival; a drain that
times out fails all of its batches.  After the run the final per-user
fold state in the lake must equal the registry's DuckDB oracle for the
EWMA fold over every landed event, the lake must hold one commit per
micro-batch run, and the source log must cover every landed file.
"""

from __future__ import annotations

import glob
import json
import os
import time
from datetime import datetime

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from common import check, median

#: keys; the fold pays Python work per key per micro-batch.  With this
#: few keys, the shuffle partition the hottest ones hash to would set a
#: batch's time, so the rank -> key mapping is the same for every seed
USERS = 100
#: nominal seconds per backlog micro-batch on a 4-core host: the time
#: ``--seconds`` leaves after the live phase buys that many backlog files
BATCH_S = 2.0
MIN_BACKLOG_FILES = 5
EVENTS_PER_FILE = 20_000
LIVE_FILES = 12
LIVE_EVENTS_PER_FILE = 200
#: open-loop live arrival rate, files per second; fixed.  A one-file
#: micro-batch takes 1.1-1.6 s on a loaded 4-core host, so at this rate
#: each file gets a batch of its own and latency measures that batch,
#: not where a file fell in a queue (at 0.75/s queues built up)
LIVE_RATE_PER_S = 0.5
#: warm-up drain: its first batch pays compilation and worker start,
#: the rest warm the fold at the timed batch size
WARMUP_FILES = 4
#: arrival jitter across file boundaries; the watermark delay must
#: exceed twice this so no row is ever dropped as late
JITTER_S = 600
DELAY = "1800 seconds"
DRAIN_TIMEOUT_S = 120
COMMIT_TIMEOUT_S = 30

SCHEMA = ("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
          "value DOUBLE, props STRING")


def _files(rng: np.random.Generator, sizes: list[int]) -> list[pa.Table]:
    """One event log cut into files of ``sizes`` rows by a jittered
    arrival time, so consecutive files interleave in event time within
    ``2 * JITTER_S``.  Timestamps are UTC-adjusted so Spark reads them as
    TIMESTAMP, the type the watermark needs."""
    n = sum(sizes)
    t = gen.events(rng, n, n_users=USERS, key_rng=np.random.default_rng(0))
    arrive = (t["ts"].cast(pa.int64()).to_numpy()
              + rng.integers(-JITTER_S, JITTER_S + 1, n) * 1_000_000)
    t = t.take(np.argsort(arrive, kind="stable"))
    t = t.set_column(1, "ts", t["ts"].cast(pa.timestamp("us", tz="UTC")))
    cuts = np.cumsum([0, *sizes])
    return [t.slice(a, b - a) for a, b in zip(cuts[:-1], cuts[1:])]


def _land(path: str, table: pa.Table) -> None:
    """Atomic landing: write under a hidden name, then rename, so the
    file source never lists a half-written file."""
    d, f = os.path.split(path)
    tmp = os.path.join(d, "." + f)
    pq.write_table(table, tmp)
    os.rename(tmp, path)


def _fold(b, src: str, max_files: int | None):
    from async_stream_processing_spark.streaming.reorder import (
        reordered_fold_stream,
    )
    from async_stream_processing_spark.streaming.replay import replay_stream

    with b.span("streaming.replay.plan"):
        s = replay_stream(b.spark, src, SCHEMA,
                          max_files_per_trigger=max_files)
    with b.span("streaming.reorder.plan"):
        return reordered_fold_stream(s.select(
            "ts", "event_id", "user_id",
            ((F.col("value").cast("decimal(18,2)") * 100).cast("long")
             * F.lit(1_000_000)).alias("x"),
        ), "ewma", delay=DELAY)


def _drain(b, src: str, lake: str, ckpt: str) -> list[dict]:
    """Backfill: the whole backlog through ``versioned_sink``.  A drain
    that does not finish in ``DRAIN_TIMEOUT_S`` raises instead of
    leaving a partial lake that would read as a faster run."""
    from async_stream_processing_spark.plans.versioned import versioned_sink

    plan = _fold(b, src, 1)
    t0 = time.time()
    with b.span("plans.versioned.versioned_sink"):
        q = versioned_sink(plan, lake, ckpt)
        done = q.awaitTermination(DRAIN_TIMEOUT_S)
    if not done:
        q.stop()
    check(done, f"backlog drain still running after {DRAIN_TIMEOUT_S} s")
    check(q.exception() is None, f"backlog drain failed: {q.exception()}")
    b.tracer.query_span("streaming.backfill", q, t0, time.time())
    return b.tracer.streaming_progress(q, "backfill")


def _source_log(ckpt: str) -> dict[str, int]:
    """Landed file -> micro-batch id, from the file source's own log in
    the checkpoint (compacted files repeat earlier entries)."""
    out = {}
    for f in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if f.endswith(".crc"):
            continue
        with open(f) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def _batch_end(p: dict) -> float:
    """Wall-clock end of a micro-batch: trigger start + its duration."""
    t = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
    return t.timestamp() + p["durationMs"]["triggerExecution"] / 1000.0


def _await_commit(q, ckpt: str, names: list[str]) -> None:
    """Wait until the micro-batches that read ``names`` have ended."""
    deadline = time.time() + COMMIT_TIMEOUT_S
    while True:
        log = _source_log(ckpt)
        want = {log.get(n, -1) for n in names}
        if -1 not in want and want <= {
                p["batchId"] for p in _executed(q.recentProgress)}:
            return
        check(q.isActive and time.time() < deadline,
              f"live files not committed in {COMMIT_TIMEOUT_S} s: "
              f"{q.exception()}")
        time.sleep(0.05)


def _live(b, src: str, lake: str, ckpt: str, tables: list[pa.Table],
          t_first: int) -> tuple[list[float], list[dict]]:
    """Open loop: file ``i`` is due at ``t0 + i / LIVE_RATE_PER_S``
    whatever the query is doing; its latency runs from that due time to
    the end of the micro-batch that committed it."""
    from async_stream_processing_spark.plans.versioned import commit_append
    from async_stream_processing_spark.streaming.replay import process_stream

    plan = _fold(b, src, None)
    went_live = []

    def commit(batch_df, batch_id):
        commit_append(batch_df, lake, meta={"batch_id": batch_id,
                                            "txn_app_id": "default"})

    t_start = time.time()
    with b.span("streaming.replay.process_stream"):
        q = process_stream(plan, commit, checkpoint=ckpt,
                           available_now=False, past_path=src,
                           on_live_start=lambda: went_live.append(time.time()))
    try:
        # the live query's first batch pays for its restart (state
        # reload, fresh Python workers); one unmeasured file takes it
        first = f"live-{t_first:05d}.parquet"
        _land(os.path.join(src, first), tables[0])
        _await_commit(q, ckpt, [first])
        names = [f"live-{t_first + i:05d}.parquet"
                 for i in range(1, len(tables))]
        t0 = time.time() + 0.2
        late = []
        for i, table in enumerate(tables[1:]):
            due = t0 + i / LIVE_RATE_PER_S
            time.sleep(max(0.0, due - time.time()))
            late.append(time.time() - due)
            _land(os.path.join(src, names[i]), table)
        b.tracer.count("generator.late_max_s", max(late))
        _await_commit(q, ckpt, names)
    finally:
        q.stop()
    check(q.exception() is None, f"live query failed: {q.exception()}")
    check(len(went_live) == 1, "live-start hook did not fire exactly once")
    b.tracer.query_span("streaming.live", q, t_start, time.time())
    progress = b.tracer.streaming_progress(q, "live")
    end = {p["batchId"]: _batch_end(p) for p in _executed(progress)}
    log = _source_log(ckpt)
    lat = [end[log[n]] - (t0 + i / LIVE_RATE_PER_S)
           for i, n in enumerate(names)]
    return lat, progress


def _check_lake(b, src: str, lake: str, ckpt: str, batches: set[int]):
    """Final fold state == oracle over every landed file; one commit per
    micro-batch run; every landed file in the source log."""
    import __spark_entry__ as registry
    from async_stream_processing_spark.plans.versioned import (
        committed_batch_ids,
        read_version,
    )
    from pyspark.sql import Window
    from tools.check_oracle import compare

    landed = {os.path.basename(f) for f in glob.glob(f"{src}/*.parquet")}
    check(landed <= set(_source_log(ckpt)), "source log misses landed files")
    commits = committed_batch_ids(lake)
    b.tracer.count("plans.versioned.commits", len(commits))
    check(commits == batches,
          f"lake commits {sorted(commits)} != batches run {sorted(batches)}")
    w = Window.partitionBy("user_id").orderBy(F.desc("n"))
    got = (read_version(b.spark, lake)
           .withColumn("__rk", F.row_number().over(w))
           .filter("__rk = 1")
           .select("user_id", F.col("n").alias("n_events"),
                   F.col("ew").alias("ewma_scaled"),
                   (F.col("ew").cast("double") / F.lit(100_000_000.0))
                   .alias("ewma"))
           .toPandas())
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM "
                    f"read_parquet('{src}/*.parquet')")
        want = con.execute(registry.oracle_sql()["stream_ewma"]).df()
    finally:
        con.close()
    errs = compare("stream_ewma", got, want)
    check(not errs, f"fold state != oracle: {errs}")


def warmup(b) -> None:
    d = b.fresh_dir("ptl")
    src, lake, ckpt = f"{d}/src", f"{d}/lake", f"{d}/ckpt"
    os.makedirs(src)
    with b.span("inputs.land"):
        n = b.size(EVENTS_PER_FILE, 500)
        for i, t in enumerate(_files(b.rng(2, 1000),
                                     [n] * WARMUP_FILES)):
            _land(f"{src}/backlog-{i:05d}.parquet", t)
    with b.span("warmup"):
        b.unit(_drain, b, src, lake, ckpt)
    b.settle()


def measure(b) -> dict:
    d = b.fresh_dir("ptl")
    src, lake, ckpt = f"{d}/src", f"{d}/lake", f"{d}/ckpt"
    os.makedirs(src)
    n_file = b.size(EVENTS_PER_FILE, 500)
    n_live = b.size(LIVE_EVENTS_PER_FILE, 20)
    live_s = LIVE_FILES / LIVE_RATE_PER_S
    n_backlog = max(MIN_BACKLOG_FILES, round((b.seconds - live_s) / BATCH_S))
    tables = _files(b.rng(2, 0),
                    [n_file] * n_backlog + [n_live] * (1 + LIVE_FILES))
    for i, t in enumerate(tables[:n_backlog]):
        _land(f"{src}/backlog-{i:05d}.parquet", t)

    back = b.units(n_backlog, _drain, b, src, lake, ckpt)
    check(back is not None, "backlog drain failed")
    batches = [p for p in _executed(back) if p["numInputRows"] > 0]
    check(len(batches) == n_backlog,
          f"{len(batches)} backlog batches for {n_backlog} files")
    rate = [p["numInputRows"] / (p["durationMs"]["triggerExecution"] / 1e3)
            for p in batches]
    got = b.units(LIVE_FILES, _live, b, src, lake, ckpt,
                  tables[n_backlog:], n_backlog)
    check(got is not None, "live phase failed")
    lat, live = got
    b.unit(_check_lake, b, src, lake, ckpt,
           {p["batchId"] for p in _executed(back + live)})
    _stream_layers(b, _executed(back), _executed(live))
    return {"records_per_s": median(rate), "latency_p50_s": median(lat),
            "units": len(batches) + len(lat), "passes": 1,
            "unit_s": [p["durationMs"]["triggerExecution"] / 1e3
                       for p in batches] + lat}


def _executed(progress: list[dict]) -> list[dict]:
    """Progress of batches that ran, without the idle reports a waiting
    query emits."""
    return [p for p in progress if "addBatch" in p["durationMs"]]


def _stream_layers(b, back: list[dict], live: list[dict]) -> None:
    """Per-batch medians of the progress breakdown (Drizzle's split of a
    micro-batch into scheduling and execution), over backlog batches."""
    data = [p for p in back if p["numInputRows"] > 0]

    def p50(key):
        return median([p["durationMs"].get(key, 0) for p in data])

    def op(key, p):
        ops = p.get("stateOperators") or [{}]
        return ops[0].get(key, 0)

    c = b.tracer.count
    c("sources.latest_offset_ms_p50", p50("latestOffset"))
    c("streaming.wal_commit_ms_p50", median(
        [p["durationMs"].get("walCommit", 0)
         + p["durationMs"].get("commitOffsets", 0) for p in data]))
    c("streaming.query_planning_ms_p50", p50("queryPlanning"))
    c("streaming.add_batch_ms_p50", p50("addBatch"))
    c("streaming.trigger_ms_p50", p50("triggerExecution"))
    c("streaming.state_update_ms_p50",
      median([op("allUpdatesTimeMs", p) for p in data]))
    c("streaming.state_commit_ms_p50",
      median([op("commitTimeMs", p) for p in data]))
    c("streaming.state_rows", op("numRowsTotal", (back + live)[-1]))
    c("streaming.state_mb", op("memoryUsedBytes", (back + live)[-1]) / 2**20)
    every = back + live
    c("streaming.batches", len(every))
    c("streaming.empty_batch_ratio",
      sum(p["numInputRows"] == 0 for p in every) / len(every))
    c("streaming.rows_per_batch_p50", median([p["numInputRows"] for p in data]))
