"""Structured Streaming layer tests: replay lifecycle, windowed aggs,
watermark dedup, stateful cart with timers, and the custom socket source.

Each test drains a bounded stream (``availableNow`` / stop-after-batches)
so the suite stays deterministic and fast.
"""

from __future__ import annotations

import socket
import threading
import time
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from async_stream_processing_spark.streaming.cart import cart_stream
from async_stream_processing_spark.streaming.replay import (
    process_stream,
    replay_stream,
    sliding_window_agg,
    stream_dedup_within_watermark,
)

T0 = datetime(2024, 1, 1)
EVENTS_SCHEMA = "ts timestamp, user_id long, event_type string, value double, vol long"


def _write_events(spark, path, rows, n_files=1):
    df = spark.createDataFrame(rows, EVENTS_SCHEMA)
    df.repartition(n_files).write.mode("overwrite").parquet(path)


def _rows(n=20, step=30):
    return [
        (T0 + timedelta(seconds=i * step), i % 3, "click" if i % 2 else "view",
         float(10 + i), 1 + i % 4)
        for i in range(n)
    ]


def test_replay_stream_drains_past(spark, tmp_path):
    """A3 past phase: the whole backlog replays through foreachBatch and
    on_start fires before any batch (processor.py:185-189)."""
    src = str(tmp_path / "src")
    _write_events(spark, src, _rows(20))
    seen = {"rows": 0, "batches": 0, "start": False}

    def cb(batch_df, batch_id):
        seen["rows"] += batch_df.count()
        seen["batches"] += 1

    q = process_stream(
        replay_stream(spark, src, EVENTS_SCHEMA),
        cb,
        on_start=lambda: seen.__setitem__("start", True),
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    assert seen["start"] is True
    assert seen["rows"] == 20
    assert seen["batches"] >= 1


def test_sliding_window_agg_streaming_matches_batch(spark, tmp_path):
    """B9 live: streaming sliding-window counts equal the batch groupBy
    over the same data (complete drain)."""
    src = str(tmp_path / "src")
    rows = _rows(30)
    _write_events(spark, src, rows)
    out = []

    def cb(batch_df, _):
        out.extend(batch_df.collect())

    q = process_stream(
        sliding_window_agg(replay_stream(spark, src, EVENTS_SCHEMA),
                           window="2 minutes", slide="1 minute"),
        cb,
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    batch = spark.createDataFrame(rows, EVENTS_SCHEMA)
    expected = {
        (r["win"]["start"], r["win"]["end"]): r["n"]
        for r in batch.groupBy(F.window("ts", "2 minutes", "1 minute").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # append-mode emits only watermark-closed windows: every emitted window
    # must match the batch aggregate exactly; the trailing (still-open)
    # windows near max_ts - watermark never fire in a bounded drain.
    assert len(out) >= len(expected) - 5
    for r in out:
        assert expected[(r["window_start"], r["window_end"])] == r["n_events"]


def test_stream_dedup_within_watermark(spark, tmp_path):
    """B1 live: duplicates inside the watermark horizon are dropped."""
    src = str(tmp_path / "src")
    rows = [
        (T0, 1, "click", 1.0, 1),
        (T0 + timedelta(seconds=5), 1, "click", 1.0, 1),   # dup key (user 1)
        (T0 + timedelta(seconds=10), 2, "view", 2.0, 1),
    ]
    _write_events(spark, src, rows)
    out = []
    q = process_stream(
        stream_dedup_within_watermark(
            replay_stream(spark, src, EVENTS_SCHEMA), ["user_id"]
        ),
        lambda b, _: out.extend(b.collect()),
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    assert sorted(r["user_id"] for r in out) == [1, 2]


def test_cart_stream_stateful_fold(spark, tmp_path):
    """B7 live: the applyInPandasWithState fold keeps per-user FIFO cart
    state across events; discount applies inside the 60 s window."""
    src = str(tmp_path / "src")
    rows = [
        (T0, 1, "click", 10.0, 2),                          # +2 @ 9.0 (disc)
        (T0 + timedelta(seconds=90), 1, "click", 20.0, 1),  # +1 @ 20.0
        (T0 + timedelta(seconds=100), 1, "error", 0.0, 2),  # -2 FIFO
        (T0 + timedelta(seconds=50), 2, "click", 5.0, 1),   # user 2: 4.5
    ]
    _write_events(spark, src, rows)
    out = []
    q = process_stream(
        cart_stream(replay_stream(spark, src, EVENTS_SCHEMA),
                    discount=0.9, discount_seconds=60),
        lambda b, _: out.extend(b.collect()),
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)
    finals = {}
    for r in out:
        if r["event_kind"] != "discount_ended":
            finals[r["user_id"]] = (r["cart_qty"], r["cart_value"])
    assert finals[1] == (1, 20.0)   # FIFO removed the discounted pair
    assert finals[2] == (1, 4.5)


def test_linesocket_source_end_to_end(spark, tmp_path):
    """B13: custom Python DataSource reads a live TCP text stream."""
    from async_stream_processing_spark.sources.websocket import register_sources

    register_sources(spark)

    server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    server.bind(("127.0.0.1", 0))
    port = server.getsockname()[1]
    server.listen(1)

    def serve():
        conn, _ = server.accept()
        for i in range(5):
            conn.sendall(f"msg-{i}\n".encode())
            time.sleep(0.05)
        conn.close()

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    out = []
    stream = (
        spark.readStream.format("linesocket")
        .option("port", str(port))
        .option("timeout", "0.5")
        .load()
    )
    q = (
        stream.writeStream.foreachBatch(lambda b, _: out.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    deadline = time.time() + 60
    while time.time() < deadline and len(out) < 5:
        time.sleep(0.5)
    q.stop()
    t.join(timeout=5)
    server.close()
    assert [r["value"] for r in out[:5]] == [f"msg-{i}" for i in range(5)]


def test_websocket_source_gated_import(spark):
    """The websocket adapter registers, and explains itself when the
    websockets package is absent."""
    from async_stream_processing_spark.sources.websocket import _WebSocketReader

    try:
        import websockets  # noqa: F401

        pytest.skip("websockets installed; gate not exercised")
    except ImportError:
        pass
    with pytest.raises(ImportError, match="linesocket"):
        _WebSocketReader({"uri": "ws://x"})


def test_stream_static_enrich(spark, tmp_path):
    """Stream-static join: micro-batches enriched against a dimension."""
    from async_stream_processing_spark.streaming.replay import stream_static_enrich

    src = str(tmp_path / "src")
    _write_events(spark, src, _rows(6))
    dim = spark.createDataFrame(
        [(0, "bronze"), (1, "silver"), (2, "gold")], "user_id long, tier string"
    )
    out = []
    q = process_stream(
        stream_static_enrich(replay_stream(spark, src, EVENTS_SCHEMA), dim, ["user_id"]),
        lambda b, _: out.extend(b.collect()),
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    assert len(out) == 6
    assert all(r["tier"] in {"bronze", "silver", "gold"} for r in out)


def test_stream_stream_join_time_bounded(spark, tmp_path):
    """Stream-stream join with watermark-bounded state: views matched to
    clicks of the same user within the preceding minute."""
    from async_stream_processing_spark.streaming.replay import stream_stream_join

    rows = [
        (T0, 1, "click", 1.0, 1),
        (T0 + timedelta(seconds=30), 1, "view", 2.0, 1),      # joins (30s gap)
        (T0 + timedelta(seconds=300), 1, "view", 3.0, 1),     # no click within 1m
        (T0 + timedelta(seconds=300), 2, "view", 4.0, 1),     # other user, no click
        (T0 + timedelta(seconds=600), 9, "click", 9.0, 1),    # advances watermark
        (T0 + timedelta(seconds=600), 9, "view", 9.0, 1),
    ]
    src = str(tmp_path / "src")
    _write_events(spark, src, rows)
    base = replay_stream(spark, src, EVENTS_SCHEMA)
    clicks = base.filter("event_type = 'click'").select("ts", "user_id", "value")
    views = (
        replay_stream(spark, src, EVENTS_SCHEMA)
        .filter("event_type = 'view'")
        .select(F.col("ts").alias("vts"), F.col("user_id").alias("vuser"),
                F.col("value").alias("vvalue"))
        .withColumnRenamed("vts", "ts")
        .withColumnRenamed("vuser", "user_id")
    )
    out = []
    joined = stream_stream_join(
        views, clicks.withColumnRenamed("value", "click_value"), "user_id",
        within="1 minute",
    )
    q = process_stream(
        joined, lambda b, _: out.extend(b.collect()),
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)
    pairs = sorted((r["vvalue"], r["click_value"]) for r in out)
    assert (2.0, 1.0) in pairs          # the 30s-gap match
    assert (9.0, 9.0) in pairs          # simultaneous same-user
    assert all(v != 3.0 and v != 4.0 for v, _ in pairs)  # out-of-window


def test_watermark_drops_late_rows(spark, tmp_path):
    """Late-data semantics: an event older than the watermark horizon when
    its micro-batch arrives is dropped from windowed aggregation.  (The
    reference has NO late tolerance -- SURVEY §4.2 -- so any watermark is
    strictly more forgiving than the semantics we port.)"""
    src = str(tmp_path / "src")
    on_time = [(T0 + timedelta(minutes=m), 1, "click", 1.0, 1) for m in range(10)]
    _write_events(spark, src, on_time)
    out = []
    q = process_stream(
        sliding_window_agg(
            replay_stream(spark, src, EVENTS_SCHEMA),
            window="1 minute", slide="1 minute", watermark="2 minutes",
        ),
        lambda b, _: out.extend(b.collect()),
        checkpoint=str(tmp_path / "ckpt"),
        available_now=False,
    )
    deadline = time.time() + 60
    while time.time() < deadline and len(out) < 7:
        time.sleep(0.5)
    n_before = len(out)
    # a VERY late straggler: far behind the current watermark (~8 min)
    late = [(T0 + timedelta(minutes=1, seconds=30), 7, "click", 99.0, 1)]
    spark.createDataFrame(late, EVENTS_SCHEMA).write.mode("append").parquet(src)
    time.sleep(5)
    q.processAllAvailable()
    q.stop()
    # the late row's window (minute 1) already closed and emitted without it
    minute1 = [r for r in out if r["window_start"] == T0 + timedelta(minutes=1)]
    assert len(minute1) == 1 and minute1[0]["n_events"] == 1
    assert len(out) >= n_before  # no retraction, no duplicate emission


def test_stream_pivot_matches_batch(spark):
    """The complete-mode conditional-count pivot drained through the
    micro-batch engine equals the batch pivot plan row for row."""
    import sys
    sys.path.insert(0, ".")
    import __spark_entry__ as m

    sf = "/root/testdata/sf0.001"
    got = {tuple(r) for r in m.queries()["stream_pivot_daily"](spark, sf).collect()}
    want = {tuple(r) for r in m.queries()["pivot_daily"](spark, sf).collect()}
    assert got == want


def test_stream_dedup_matches_batch(spark):
    """dropDuplicatesWithinWatermark with a replay-spanning delay equals
    batch DISTINCT on the key columns."""
    import sys
    sys.path.insert(0, ".")
    import __spark_entry__ as m
    from async_stream_processing_spark.sources.parquet import load_table

    sf = "/root/testdata/sf0.001"
    got = {tuple(r) for r in m.queries()["stream_dedup"](spark, sf).collect()}
    want = {
        tuple(r)
        for r in load_table(spark, sf, "events")
        .select("user_id", "event_type").distinct().collect()
    }
    assert got == want


def test_upsert_sink_latest_per_key(spark, tmp_path):
    """Streaming keyed merge: two micro-batches of versioned rows end as
    one row per key with the max version; re-delivering a batch is a
    no-op (idempotent exactly-once recipe)."""
    from async_stream_processing_spark.streaming.replay import replay_stream
    from async_stream_processing_spark.streaming.upsert import (
        merge_batch,
        read_current,
        upsert_sink,
    )

    src = str(tmp_path / "in")
    lake = str(tmp_path / "lake")
    ck = str(tmp_path / "ck")
    schema = "k long, v string, ver long"
    spark.createDataFrame(
        [(1, "a0", 0), (2, "b0", 0), (1, "a1", 1)], schema
    ).write.parquet(src)

    s = replay_stream(spark, src, schema, ts_col="ver", watermark=None)
    upsert_sink(s, lake, keys=["k"], version_col="ver",
                checkpoint=ck, n_buckets=4).awaitTermination()
    got = {(r["k"], r["v"], r["ver"]) for r in read_current(spark, lake).collect()}
    assert got == {(1, "a1", 1), (2, "b0", 0)}

    # second batch: update key 2, add key 3, stale update for key 1
    b2 = spark.createDataFrame([(2, "b2", 2), (3, "c0", 0), (1, "aOLD", 0)], schema)
    merge_batch(spark, b2, lake, keys=["k"], version_col="ver", n_buckets=4)
    got2 = {(r["k"], r["v"], r["ver"]) for r in read_current(spark, lake).collect()}
    assert got2 == {(1, "a1", 1), (2, "b2", 2), (3, "c0", 0)}

    # re-deliver the same batch: idempotent
    merge_batch(spark, b2, lake, keys=["k"], version_col="ver", n_buckets=4)
    got3 = {(r["k"], r["v"], r["ver"]) for r in read_current(spark, lake).collect()}
    assert got3 == got2


def test_upsert_sink_rewrites_only_touched_buckets(spark, tmp_path):
    import os

    from async_stream_processing_spark.streaming.upsert import (
        BUCKET_COL,
        merge_batch,
        read_current,
    )

    lake = str(tmp_path / "lake2")
    schema = "k long, v string, ver long"
    base = spark.createDataFrame([(i, f"v{i}", 0) for i in range(40)], schema)
    merge_batch(spark, base, lake, keys=["k"], version_col="ver", n_buckets=8)
    dirs = sorted(d for d in os.listdir(lake) if d.startswith(BUCKET_COL))
    assert len(dirs) == 8
    mtimes = {d: os.path.getmtime(os.path.join(lake, d)) for d in dirs}
    import time as _t

    _t.sleep(1.1)
    merge_batch(
        spark,
        spark.createDataFrame([(7, "v7x", 5)], schema),
        lake, keys=["k"], version_col="ver", n_buckets=8,
    )
    changed = [d for d in dirs
               if os.path.getmtime(os.path.join(lake, d)) != mtimes[d]]
    assert len(changed) == 1  # exactly the bucket holding key 7
    got = dict((r["k"], r["v"]) for r in read_current(spark, lake).collect())
    assert got[7] == "v7x" and len(got) == 40


def test_upsert_sink_sparse_batch_on_stream_thread(spark, tmp_path):
    """Regression (r7): SQLConf is thread-local, so dynamic partition
    overwrite must ride the WRITE OPTION, not session conf -- a merge
    planned on the micro-batch thread under static mode would replace
    the whole lake with the batch's buckets.  A sparse second
    micro-batch (one key, one bucket) must leave every other bucket's
    rows in place."""
    from async_stream_processing_spark.streaming.replay import replay_stream
    from async_stream_processing_spark.streaming.upsert import (
        read_current,
        upsert_sink,
    )

    src = str(tmp_path / "sp_in")
    lake = str(tmp_path / "sp_lake")
    ck = str(tmp_path / "sp_ck")
    schema = "k long, v string, ver long"
    # file 1: 40 keys across all 8 buckets; file 2: ONE key
    spark.createDataFrame(
        [(i, f"v{i}", 0) for i in range(40)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame([(7, "v7x", 5)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    s = replay_stream(spark, src, schema, ts_col="ver", watermark=None,
                      max_files_per_trigger=1)
    upsert_sink(s, lake, keys=["k"], version_col="ver",
                checkpoint=ck, n_buckets=8).awaitTermination()
    got = {(r["k"], r["v"]) for r in read_current(spark, lake).collect()}
    assert len(got) == 40           # nothing outside bucket(7) was lost
    assert (7, "v7x") in got


def test_ivfpq_served_reads_only_probed_cells(spark, tmp_path):
    """prune_cells=True turns the probe list into a literal partition
    filter: the served search's scan opens files ONLY under the probed
    cells' directories, and the results equal the unpruned search."""
    from async_stream_processing_spark.llm.similarity import (
        ivfpq_encode,
        ivfpq_search,
    )
    from async_stream_processing_spark.sources.parquet import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    store = str(tmp_path / "serve_store")
    codes_wide, coarse, rcode = ivfpq_encode(emb)
    codes_wide.write.mode("overwrite").partitionBy("cell").parquet(store)

    def read_store():
        df = spark.read.parquet(store)
        code_cols = sorted(
            (c for c in df.columns if c.startswith("code_")),
            key=lambda c: int(c.split("_", 1)[1]),
        )
        return df.select(
            "vec_id", F.col("cell").cast("long").alias("cell"), *code_cols
        )

    stored = read_store()
    unpruned = sorted(map(tuple, ivfpq_search(
        emb, stored, coarse, rcode, n_queries=3, k=4, nprobe=2,
        prune_cells=False,
    ).collect()))

    served = ivfpq_search(
        emb, stored, coarse, rcode, n_queries=3, k=4, nprobe=2,
        prune_cells=True,
    )
    # read the literal probe list off the scan's partition filters
    import os
    import re

    plan = served._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"cell.{0,20} IN \(([0-9,\- ]+)\)", plan)
    assert m, plan[:1500]
    probed = {int(x) for x in m.group(1).split(",")}
    all_cells = {
        int(d.split("=")[1])
        for d in os.listdir(store) if d.startswith("cell=")
    }
    assert probed < all_cells  # strictly fewer cells than the store holds

    # the strong proof (the partition-pruning test's discipline): corrupt
    # every UNPROBED cell's files -- the served query still runs, because
    # the scan never opens those bytes -- and results equal the unpruned
    # search (which ran before the corruption)
    for cell in all_cells - probed:
        d = os.path.join(store, f"cell={cell}")
        for f in os.listdir(d):
            if not f.startswith(("_", ".")):
                with open(os.path.join(d, f), "wb") as fh:
                    fh.write(b"corrupt")
    served_again = ivfpq_search(
        emb, read_store(),
        coarse, rcode, n_queries=3, k=4, nprobe=2, prune_cells=True,
    )
    assert sorted(map(tuple, served_again.collect())) == unpruned


def test_stateful_aggregation_resumes_from_checkpoint(spark, tmp_path):
    """Restart semantics: a keyed count over run 1's files, stopped, then
    RESTARTED as a new query on the same checkpoint after more files
    arrive -- the update-mode output of run 2 must reflect state carried
    across the restart (A+B totals), not a recount from zero."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "ck_src")
    ck = str(tmp_path / "ck_state")
    schema = "k long, ts timestamp"
    from datetime import datetime

    spark.createDataFrame(
        [(1, datetime(2024, 1, 1)), (1, datetime(2024, 1, 1)),
         (2, datetime(2024, 1, 1))], schema
    ).coalesce(1).write.mode("append").parquet(src)

    emitted = []

    def run_once():
        s = spark.readStream.schema(schema).parquet(src)
        agg = s.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
        q = (
            agg.writeStream.outputMode("update")
            .foreachBatch(lambda b, i: emitted.append(
                {r["k"]: r["n"] for r in b.collect()}))
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    first = {k: n for d in emitted for k, n in d.items()}
    assert first == {1: 2, 2: 1}

    emitted.clear()
    spark.createDataFrame(
        [(1, datetime(2024, 1, 2)), (3, datetime(2024, 1, 2))], schema
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()  # NEW query object, SAME checkpoint
    second = {k: n for d in emitted for k, n in d.items()}
    # update mode: only keys touched by run 2's data emit, with totals
    # that include run 1's state
    assert second == {1: 3, 3: 1}


def test_fold_state_schemas_are_fixed_width(spark):
    """Boundedness BY CONSTRUCTION (r8 verdict item 1): every incremental
    fold's state schema is a fixed-width struct of scalar longs -- no
    ArrayType/MapType/StringType field can exist to accumulate history,
    so per-key state is O(1) regardless of event count."""
    from pyspark.sql.types import LongType, StructType

    from async_stream_processing_spark.streaming.folds import STATE_SCHEMAS

    for name, ddl in STATE_SCHEMAS.items():
        st = StructType.fromDDL(ddl)
        for f in st.fields:
            assert isinstance(f.dataType, LongType), (
                f"{name}.{f.name}: state must be scalar longs, "
                f"got {f.dataType}"
            )


_BUF = "buf BINARY"
_BOLLINGER_STATE = "cnt BIGINT, " + ", ".join(
    f"v{i} BIGINT" for i in range(19))
_CORR_STATE = "cnt BIGINT, prev_x BIGINT, " + ", ".join(
    f"x{i} BIGINT, y{i} BIGINT" for i in range(19))
_BOLLINGER_ROWS = ("user_id BIGINT, ts TIMESTAMP, event_id BIGINT, "
                   "n BIGINT, sx_c BIGINT, sxx_c4 BIGINT")
_CORR_ROWS = ("user_id BIGINT, ts TIMESTAMP, event_id BIGINT, n BIGINT, "
              "sx_c BIGINT, sy_c BIGINT, sxy_c4 BIGINT, sxx_c4 BIGINT, "
              "syy_c4 BIGINT")

#: kind -> (ordered state, ordered output, reorder state, reorder
#: output), as the per-kind wrappers wrote them before the fold table.
#: The state DDL is the checkpoint format: it must stay byte-identical.
FOLD_SCHEMAS = {
    "cusum": (
        "anchor BIGINT, c BIGINT, m BIGINT, smax BIGINT, "
        "n_over BIGINT, alarm BIGINT, n BIGINT",
        "anchor BIGINT, c BIGINT, m BIGINT, smax BIGINT, n_over BIGINT, "
        "alarm BIGINT, n BIGINT, user_id BIGINT",
        "anchor BIGINT, c BIGINT, m BIGINT, smax BIGINT, "
        "n_over BIGINT, alarm BIGINT, n BIGINT, " + _BUF,
        "anchor BIGINT, c BIGINT, m BIGINT, smax BIGINT, n_over BIGINT, "
        "alarm BIGINT, n BIGINT, user_id BIGINT",
    ),
    "ewma": (
        "ew BIGINT, n BIGINT",
        "ew BIGINT, n BIGINT, user_id BIGINT",
        "ew BIGINT, n BIGINT, " + _BUF,
        "ew BIGINT, n BIGINT, user_id BIGINT",
    ),
    "rsi": (
        "prev_y BIGINT, ag BIGINT, al BIGINT, n BIGINT",
        "prev_y BIGINT, ag BIGINT, al BIGINT, n BIGINT, user_id BIGINT",
        "prev_y BIGINT, ag BIGINT, al BIGINT, n BIGINT, " + _BUF,
        "prev_y BIGINT, ag BIGINT, al BIGINT, n BIGINT, user_id BIGINT",
    ),
    "ols": (
        "n BIGINT, sy BIGINT, sxy BIGINT, syy BIGINT",
        "n BIGINT, sy BIGINT, sxy BIGINT, syy BIGINT, user_id BIGINT",
        "n BIGINT, sy BIGINT, sxy BIGINT, syy BIGINT, " + _BUF,
        "n BIGINT, sy BIGINT, sxy BIGINT, syy BIGINT, user_id BIGINT",
    ),
    "drawdown": (
        "eq BIGINT, peak BIGINT, dd BIGINT, n BIGINT",
        "eq BIGINT, peak BIGINT, dd BIGINT, n BIGINT, user_id BIGINT",
        "eq BIGINT, peak BIGINT, dd BIGINT, n BIGINT, " + _BUF,
        "eq BIGINT, peak BIGINT, dd BIGINT, n BIGINT, user_id BIGINT",
    ),
    "bollinger": (
        _BOLLINGER_STATE,
        _BOLLINGER_ROWS,
        _BOLLINGER_STATE + ", nb BIGINT, " + _BUF,
        _BOLLINGER_ROWS + ", nb BIGINT",
    ),
    "corr": (
        _CORR_STATE,
        _CORR_ROWS,
        _CORR_STATE + ", nb BIGINT, " + _BUF,
        _CORR_ROWS + ", nb BIGINT",
    ),
}


def test_fold_schemas_pinned_on_both_paths(spark, tmp_path, monkeypatch):
    """Every kind on both paths hands ``applyInPandasWithState`` the
    pinned state DDL and output schema, and the folded stream has that
    output schema."""
    from pyspark.sql.group import GroupedData
    from pyspark.sql.types import StructType

    from async_stream_processing_spark.streaming.folds import (
        FOLD_KINDS,
        fold_stream,
    )
    from async_stream_processing_spark.streaming.reorder import (
        reordered_fold_stream,
    )

    seen = []
    real = GroupedData.applyInPandasWithState

    def record(self, func, outputStructType, stateStructType, *a, **kw):
        seen.append((stateStructType, outputStructType))
        return real(self, func, outputStructType, stateStructType, *a, **kw)

    monkeypatch.setattr(GroupedData, "applyInPandasWithState", record)
    s = spark.readStream.schema(
        "ts TIMESTAMP, event_id BIGINT, user_id BIGINT, x BIGINT, y BIGINT"
    ).parquet(str(tmp_path))
    assert list(FOLD_KINDS) == list(FOLD_SCHEMAS)
    for kind, (state, out, r_state, r_out) in FOLD_SCHEMAS.items():
        folded = fold_stream(s, kind)
        assert seen.pop() == (state, out), kind
        assert folded.schema == StructType.fromDDL(out), kind
        folded = reordered_fold_stream(s, kind, delay="1 hour")
        assert seen.pop() == (r_state, r_out), kind
        assert folded.schema == StructType.fromDDL(r_out), kind


def test_incremental_folds_carry_state_across_batches(spark):
    """The time-split replay really delivers MULTIPLE micro-batches per
    key (cross-batch state carry is exercised, not vacuous), and the
    drained final CUSUM state matches the batch operator exactly."""
    import sys

    sys.path.insert(0, ".")
    from __spark_entry__ import _stream_time_ordered, q_cusum_drift
    from async_stream_processing_spark.streaming.folds import (
        final_rows,
        fold_stream,
    )
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    s = _stream_time_ordered(spark, sf).select(
        "ts", "event_id", "user_id",
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("long").alias("x"),
    )
    folded = fold_stream(s, "cusum")
    # drain WITHOUT the final-row filter: one emitted row per key per
    # batch in which the key had events -- >1 row per key proves the
    # fold consumed the key across multiple micro-batches
    from async_stream_processing_spark.streaming.replay import drain

    raw = drain(folded, output_mode="append")
    per_key = raw.groupBy("user_id").count()
    assert per_key.agg(F.max("count")).first()[0] >= 2

    finals = final_rows(
        drain(fold_stream(s, "cusum"), output_mode="append"), "cusum"
    ).select(
        "user_id",
        F.col("smax").alias("max_cusum"),
        "n_over",
        F.col("alarm").alias("first_alarm_event"),
        F.col("n").alias("n_points"),
    ).filter(F.col("n_points") >= 10)
    batch = q_cusum_drift(spark, sf)
    assert finals.exceptAll(batch).count() == 0
    assert batch.exceptAll(finals).count() == 0


def test_fold_fuzz_pinned_seeds(spark):
    """Pinned-seed cases of the stream-fold differential fuzzer
    (tools/fuzz_folds.py): random fold kind/params/input-subset/
    micro-batch-count, streaming incremental fold vs the batch
    closed-form over the sorted event list, exact integer equality."""
    import random
    import sys

    sys.path.insert(0, ".")
    from tools.fuzz_folds import run_case

    for seed in (20260816, 20260816 + 3):
        run_case(spark, random.Random(seed), "/root/testdata/sf0.001")


def _replay_reorder_state(kind, rows, batches, delay_ns, kw=None):
    """Drive streaming/reorder.reorder_step exactly as the micro-batch
    engine would: watermark before batch b = max event time of batches
    < b minus delay (Spark's one-batch watermark lag)."""
    import pandas as pd

    from async_stream_processing_spark.streaming.folds import FOLD_KINDS
    from async_stream_processing_spark.streaming.reorder import (
        reorder_step,
    )

    core = FOLD_KINDS[kind].init
    buf = (None, None, None)
    wm_ns, seen_max = 0, 0
    spec = None
    for batch in batches:
        pdf = pd.DataFrame(
            {"ts": pd.to_datetime([rows[i][0] for i in batch]),
             "event_id": [rows[i][1] for i in batch],
             "x": [rows[i][2] for i in batch],
             "y": [rows[i][2] for i in batch]},
        )
        core, _, (bt, be, bv), emitted = reorder_step(
            kind, core, 0, buf, pdf, wm_ns, 0, kw or {})
        spec = emitted[0][:-1]  # the speculative state, without user_id
        buf = (bt, be, bv)
        # boundedness: every pending row sits inside the horizon
        assert all(t >= wm_ns for t in bt)
        seen_max = max([seen_max] + [rows[i][0] for i in batch])
        wm_ns = max(wm_ns, seen_max - delay_ns)
    return spec


def test_reorder_step_differential_all_state_kinds():
    """Spark-free differential for the reorder buffer (r9 verdict item
    2): time-SHUFFLED batches through the pure reorder step must end in
    bit-identical state to the ordered kernel over the fully-sorted
    input, for every O(1) fold kind and several disorder shapes."""
    import random

    from async_stream_processing_spark.streaming.folds import (
        FOLD_KINDS,
        cusum_kernel,
        drawdown_kernel,
        ewma_kernel,
        ols_kernel,
        rsi_kernel,
    )

    init = {name: k.init for name, k in FOLD_KINDS.items()}
    direct = {
        "cusum": lambda t, e, v: cusum_kernel(init["cusum"], v, e),
        "ewma": lambda t, e, v: ewma_kernel(init["ewma"], v),
        "rsi": lambda t, e, v: rsi_kernel(init["rsi"], v),
        "ols": lambda t, e, v: ols_kernel(init["ols"], v),
        "drawdown": lambda t, e, v: drawdown_kernel(init["drawdown"], v),
    }
    rng = random.Random(20260816)
    for trial in range(4):
        n = 120
        base = 1_600_000_000_000_000_000
        rows = [
            (base + i * 1_000_000_000, i, rng.randrange(-500, 2500))
            for i in range(n)
        ]
        # jitter each row's BATCH assignment within +-J, J < delay/2
        j_ns = 20_000_000_000  # 20 s
        delay_ns = 50_000_000_000  # 50 s
        keyed = sorted(
            range(n),
            key=lambda i: rows[i][0] + rng.randrange(-j_ns, j_ns + 1),
        )
        n_batches = 5
        cuts = [len(keyed) * b // n_batches for b in range(n_batches + 1)]
        batches = [keyed[cuts[b]:cuts[b + 1]] for b in range(n_batches)]
        for kind, fn in direct.items():
            spec = _replay_reorder_state(kind, rows, batches, delay_ns)
            srt = sorted(range(n), key=lambda i: (rows[i][0], rows[i][1]))
            want = fn([rows[i][0] for i in srt],
                      [rows[i][1] for i in srt],
                      [rows[i][2] for i in srt])
            assert tuple(spec) == tuple(want), (kind, trial)


def test_reorder_rows_step_differential():
    """Per-event reorder family (bollinger / corr): replay shuffled
    batches, keep the max-``nb`` emission per event, demand row-level
    bit-equality with the ordered kernel over the sorted input."""
    import random

    import pandas as pd

    from async_stream_processing_spark.streaming.folds import (
        bollinger_kernel,
        corr_kernel,
    )
    from async_stream_processing_spark.streaming.reorder import (
        reorder_step,
    )

    rng = random.Random(20260817)
    n = 90
    base = 1_700_000_000_000_000_000
    rows = [(base + i * 1_000_000_000, i, rng.randrange(0, 900))
            for i in range(n)]
    j_ns, delay_ns = 15_000_000_000, 40_000_000_000
    keyed = sorted(range(n),
                   key=lambda i: rows[i][0] + rng.randrange(-j_ns, j_ns + 1))
    # contiguous jittered slices: disorder bounded by 2*j_ns < delay
    cuts = [n * b // 4 for b in range(5)]
    batches = [keyed[cuts[b]:cuts[b + 1]] for b in range(4)]
    for kind, init, kernel in (
        ("bollinger", [], bollinger_kernel),
        ("corr", (None, []), corr_kernel),
    ):
        core, nb, buf = init, 0, (None, None, None)
        wm_ns, seen_max = 0, 0
        best: dict = {}
        for batch in batches:
            pdf = pd.DataFrame(
                {"ts": pd.to_datetime([rows[i][0] for i in batch]),
                 "event_id": [rows[i][1] for i in batch],
                 "x": [rows[i][2] for i in batch]},
            )
            core, nb, buf, emitted = reorder_step(
                kind, core, nb, buf, pdf, wm_ns, 7, {})
            assert all(t >= wm_ns for t in buf[0])
            for r in emitted:
                eid = r[2]
                if eid not in best or r[-1] > best[eid][-1]:
                    best[eid] = r
            seen_max = max([seen_max] + [rows[i][0] for i in batch])
            wm_ns = max(wm_ns, seen_max - delay_ns)
        srt = sorted(range(n), key=lambda i: (rows[i][0], rows[i][1]))
        _, want_rows = kernel(
            init, 7,
            [pd.Timestamp(rows[i][0]) for i in srt],
            [rows[i][1] for i in srt],
            [rows[i][2] for i in srt],
        )
        got = {r[2]: r[:-1] for r in best.values()}
        want = {r[2]: tuple(r) for r in want_rows}
        assert got == want, kind


def test_time_shuffled_fixture_really_interleaves(spark):
    """The OOO gate is not vacuous: the jittered replay files genuinely
    interleave event time across micro-batch boundaries (a later file
    contains rows older than an earlier file's max), and the disorder
    stays within the watermark horizon (no row would be late-dropped)."""
    import os
    import sys

    import pyarrow.parquet as pq

    sys.path.insert(0, ".")
    from __spark_entry__ import _events_time_shuffled_dir

    d = _events_time_shuffled_dir(spark, "/root/testdata/sf0.001")
    files = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
    assert len(files) == 3
    spans = []
    for f in files:
        t = pq.read_table(os.path.join(d, f), columns=["ts"]) \
            .to_pandas()["ts"]
        spans.append((t.min(), t.max()))
    crossings = sum(
        1 for i in range(1, len(spans)) if spans[i][0] < spans[i - 1][1]
    )
    assert crossings >= 1, spans
    # disorder bounded by 2x jitter < the 18000 s watermark delay
    import pandas as pd

    for i in range(1, len(spans)):
        back = (spans[i - 1][1] - spans[i][0]).total_seconds()
        assert back < 14400, back


def test_reordered_corr_stream_matches_batch_kernel(spark):
    """End-to-end Spark run of the non-gated per-event reorder member
    (rolling corr) over the time-shuffled replay: drained max-``nb``
    rows equal the batch kernel over the sorted events exactly."""
    import collections
    import sys

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    sys.path.insert(0, ".")
    from __spark_entry__ import _REORDER_DELAY, _stream_time_shuffled
    from async_stream_processing_spark.sources.parquet import load_table
    from async_stream_processing_spark.streaming.folds import corr_kernel
    from async_stream_processing_spark.streaming.reorder import (
        reordered_fold_stream,
    )
    from async_stream_processing_spark.streaming.replay import drain

    sf = "/root/testdata/sf0.001"
    s = _stream_time_shuffled(spark, sf).select(
        "ts", "event_id", "user_id",
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("long").alias("x"),
    )
    out = drain(reordered_fold_stream(s, "corr", delay=_REORDER_DELAY),
                output_mode="append")
    w = Window.partitionBy("user_id", "event_id").orderBy(F.desc("nb"))
    finals = out.withColumn("rk", F.row_number().over(w)) \
        .filter("rk = 1").drop("rk", "nb")
    got = {
        (r["user_id"], r["event_id"]): (
            r["n"], r["sx_c"], r["sy_c"], r["sxy_c4"], r["sxx_c4"],
            r["syy_c4"],
        )
        for r in finals.collect()
    }
    ev = load_table(spark, sf, "events").select(
        "user_id", "ts", "event_id",
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("long").alias("x"),
    ).orderBy("ts", "event_id").collect()
    per = collections.defaultdict(lambda: ([], [], []))
    for r in ev:
        per[r["user_id"]][0].append(r["ts"])
        per[r["user_id"]][1].append(r["event_id"])
        per[r["user_id"]][2].append(r["x"])
    want = {}
    for uid, (ts, eid, xs) in per.items():
        _, rws = corr_kernel((None, []), uid, ts, eid, xs)
        for (u, t, e, n, sx, sy, sxy, sxx, syy) in rws:
            want[(u, e)] = (n, sx, sy, sxy, sxx, syy)
    assert got == want


def test_reorder_buffer_hot_key_state_bounded():
    """r10 verdict item 6: one hot key at FULL watermark horizon under
    adversarial disorder (every batch reverse-time-sorted, horizon-deep
    jitter) — the pending buffer never exceeds the rows within the
    horizon (state = O(horizon), never history), the carried buffer
    stays sorted across batches (the merged-runs invariant), and the
    final speculative state is still bit-identical to the ordered
    kernel over the sorted input."""
    import random

    import pandas as pd

    from async_stream_processing_spark.streaming.folds import (
        FOLD_KINDS,
        cusum_kernel,
    )
    from async_stream_processing_spark.streaming.reorder import (
        reorder_step,
    )

    rng = random.Random(20260818)
    n = 2_000
    base = 1_600_000_000_000_000_000
    step_ns = 100_000_000  # 10 events/s on ONE key
    delay_ns = 30_000_000_000  # 30 s horizon = 300 rows deep
    rows = [(base + i * step_ns, i, rng.randrange(-500, 2500))
            for i in range(n)]
    # adversarial delivery: jitter at (just under) the full horizon,
    # then REVERSE-sort each batch so every merge hits the worst case
    keyed = sorted(
        range(n),
        key=lambda i: rows[i][0] + rng.randrange(-delay_ns // 2,
                                                 delay_ns // 2 + 1),
    )
    n_batches = 20
    cuts = [n * b // n_batches for b in range(n_batches + 1)]
    batches = [sorted(keyed[cuts[b]:cuts[b + 1]],
                      key=lambda i: -rows[i][0])
               for b in range(n_batches)]

    init = FOLD_KINDS["cusum"].init
    core, buf = init, (None, None, None)
    wm_ns, seen_max, spec = 0, 0, None
    horizon_rows = delay_ns // step_ns + 1
    for batch in batches:
        pdf = pd.DataFrame(
            {"ts": pd.to_datetime([rows[i][0] for i in batch]),
             "event_id": [rows[i][1] for i in batch],
             "x": [rows[i][2] for i in batch]},
        )
        core, _, (bt, be, bv), emitted = reorder_step(
            "cusum", core, 0, buf, pdf, wm_ns, 0, {})
        spec = emitted[0][:-1]
        buf = (bt, be, bv)
        # O(horizon) bound: pending <= rows inside the horizon + the
        # batch that has not yet seen its own watermark advance
        assert len(bt) <= horizon_rows + len(batch), len(bt)
        # the carried buffer really is sorted (merge-of-runs invariant)
        assert all(bt[i] <= bt[i + 1] for i in range(len(bt) - 1))
        seen_max = max([seen_max] + [rows[i][0] for i in batch])
        wm_ns = max(wm_ns, seen_max - delay_ns)
    srt = sorted(range(n), key=lambda i: (rows[i][0], rows[i][1]))
    want = cusum_kernel(init,
                        [rows[i][2] for i in srt],
                        [rows[i][1] for i in srt])
    assert tuple(spec) == tuple(want)


def test_reorder_buf_pack_round_trip():
    """The reorder state's one ``buf BINARY`` field round-trips the
    pending rows exactly: empty, one row, the int64 extremes, negative
    times and values, and the rows' order."""
    import struct

    from async_stream_processing_spark.streaming.reorder import (
        _pack_buf,
        _unpack_buf,
    )

    lo, hi = -(2 ** 63), 2 ** 63 - 1
    cases = [
        ([], [], []),
        ([5], [6], [7]),
        ([lo, -1, 0, hi], [hi, lo, 3, -4], [-9, hi, lo, 0]),
        ([-3_000_000_000, -2, 10], [30, 20, 10], [-1, -500, 2500]),
    ]
    for bt, be, bv in cases:
        blob = _pack_buf(bt, be, bv)
        # little-endian int64, [ts_ns..., event_id..., value...]
        assert blob == struct.pack(f"<{3 * len(bt)}q", *bt, *be, *bv)
        assert _unpack_buf(blob) == (bt, be, bv)
        # the state store hands BINARY back as bytes or bytearray
        assert _unpack_buf(bytearray(blob)) == (bt, be, bv)


@pytest.mark.parametrize("kind", ["ewma", "bollinger"])
def test_reorder_fold_reuses_compiled_state_codec(spark, tmp_path, kind):
    """A reorder fold's micro-batch compiles at most ONE new class once
    two batches have warmed the codegen cache -- counted with Spark's
    ``CodegenMetrics``, not timed.  The state row holds no array, so no
    state-encoder expression carries a ``MapObjects`` lambda whose
    global id would change the generated source every batch; the one
    class left is the late-row filter, which inlines the watermark.
    ``ewma`` is a per-key kind, ``bollinger`` a per-event kind with
    ``nb``."""
    from async_stream_processing_spark.streaming.reorder import (
        reordered_fold_stream,
    )
    from async_stream_processing_spark.streaming.replay import (
        land_batches,
        shuffle_guard,
    )

    n = 5
    # batch b holds event times b*600 s +- 300 s: each batch advances
    # the 10-minute watermark, finalizes part of the buffer and late-
    # drops nothing
    df = spark.range(n * 40).select(
        (F.col("id") % n).cast("int").alias("b"),
        F.col("id").alias("event_id"),
        (F.col("id") % 4).alias("user_id"),
        (F.col("id") * 37 % 1000).alias("x"),
    ).withColumn("ts", F.timestamp_seconds(
        F.col("b") * 600 + F.col("event_id") * 7919 % 600 + 1_700_000_000
    ))
    d = land_batches(df, "b", n, str(tmp_path / "landed"))
    s = replay_stream(
        spark, d, "ts TIMESTAMP, event_id BIGINT, user_id BIGINT, x BIGINT",
        max_files_per_trigger=1,
    )
    compiles = spark.sparkContext._jvm.org.apache.spark.metrics.source \
        .CodegenMetrics.METRIC_COMPILATION_TIME()
    seen = []

    def cb(batch_df, batch_id):
        batch_df.write.format("noop").mode("overwrite").save()
        seen.append(compiles.getCount())

    with shuffle_guard(spark):
        q = process_stream(
            reordered_fold_stream(s, kind, delay="10 minutes"), cb)
    q.awaitTermination(300)
    assert len(seen) == n
    per_batch = [b - a for a, b in zip(seen, seen[1:])]
    assert max(per_batch[1:]) <= 1, per_batch


@pytest.mark.parametrize("output_mode", ["complete", "update"])
def test_drain_timeout_raises_and_stops_query(spark, tmp_path, output_mode):
    """A drain that outlives its timeout must fail, not hand back a
    partial snapshot, and must leave no stream running behind it."""
    import os
    import tempfile

    from async_stream_processing_spark.streaming.replay import drain

    src = str(tmp_path / "src")
    _write_events(spark, src, _rows(40), n_files=4)
    counts = replay_stream(spark, src, EVENTS_SCHEMA,
                           max_files_per_trigger=1).groupBy("user_id").count()
    before = set(os.listdir(tempfile.gettempdir()))
    with pytest.raises(TimeoutError, match="lastProgress"):
        drain(counts, output_mode=output_mode, timeout_s=0.001)
    assert spark.streams.active == []
    left = set(os.listdir(tempfile.gettempdir())) - before
    assert not [e for e in left if e.startswith("asp_drain_")], left


def test_land_batches_replays_one_batch_per_bucket(spark, tmp_path):
    """``land_batches`` lands each bucket as one file, and
    ``replay_stream`` at one file per trigger delivers them as that many
    micro-batches, in bucket order, each holding its bucket's rows."""
    from async_stream_processing_spark.streaming.replay import land_batches

    rows = _rows(12)
    df = spark.createDataFrame(rows, EVENTS_SCHEMA).withColumn(
        "b", (F.col("value") - 10).cast("int") % 3
    )
    d = land_batches(df, "b", 3, str(tmp_path / "landed"))
    batches = []

    def cb(batch_df, batch_id):
        batches.append(sorted(r["value"] for r in batch_df.collect()))

    q = process_stream(
        replay_stream(spark, d, EVENTS_SCHEMA, max_files_per_trigger=1), cb
    )
    q.awaitTermination(120)
    assert batches == [
        sorted(r[3] for r in rows if int(r[3] - 10) % 3 == b) for b in range(3)
    ]


def test_drain_partitions_cover_only_start(spark, tmp_path):
    """A drained query runs at ``PINNED_SHUFFLE_PARTITIONS`` while the session
    keeps its own count: the override covers ``start()`` alone, and a
    start that raises still restores the conf and leaves no stream."""
    from pyspark.errors import AnalysisException
    from pyspark.sql.streaming import StreamingQueryListener

    from async_stream_processing_spark.session import PINNED_SHUFFLE_PARTITIONS
    from async_stream_processing_spark.streaming.replay import drain

    parts = "spark.sql.shuffle.partitions"
    aqe = "spark.sql.adaptive.enabled"

    class Probe(StreamingQueryListener):
        def __init__(self):
            self.seen = []
            self.done = threading.Event()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.seen.append((
                [op.numShufflePartitions
                 for op in event.progress.stateOperators],
                spark.conf.get(parts),
            ))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.done.set()

    src = str(tmp_path / "src")
    _write_events(spark, src, _rows(30), n_files=3)
    prev = {k: spark.conf.get(k) for k in (parts, aqe)}
    probe = Probe()
    spark.conf.set(parts, "7")
    spark.conf.set(aqe, "true")
    spark.streams.addListener(probe)
    try:
        counts = replay_stream(spark, src, EVENTS_SCHEMA,
                               max_files_per_trigger=1
                               ).groupBy("user_id").count()
        got = {r.user_id: r["count"] for r in drain(counts).collect()}
        assert got == {0: 10, 1: 10, 2: 10}
        assert probe.done.wait(60)
        assert probe.seen == [([PINNED_SHUFFLE_PARTITIONS], "7")] * 3

        # append mode over an aggregation without a watermark: start()
        # itself raises
        with pytest.raises(AnalysisException):
            drain(replay_stream(spark, src, EVENTS_SCHEMA)
                  .groupBy("user_id").count(), output_mode="append")
        assert spark.conf.get(parts) == "7"
        assert spark.streams.active == []
    finally:
        spark.streams.removeListener(probe)
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_append_drain_keeps_every_batch(spark, tmp_path):
    """The one file sink appends each append-mode micro-batch: a 3-file
    replay at one file per trigger returns all rows of all 3 batches."""
    from async_stream_processing_spark.streaming.replay import (
        DRAIN_BATCH_TALLY,
        drain,
    )

    src = str(tmp_path / "src")
    rows = _rows(30)
    _write_events(spark, src, rows, n_files=3)
    DRAIN_BATCH_TALLY["batches"] = 0
    out = drain(replay_stream(spark, src, EVENTS_SCHEMA,
                              max_files_per_trigger=1),
                output_mode="append")
    assert DRAIN_BATCH_TALLY["batches"] == 3
    assert sorted(tuple(r) for r in out.collect()) == sorted(rows)


def test_drain_of_empty_source_has_stream_schema(spark, tmp_path):
    """No micro-batch runs over an empty source; the drain still returns
    zero rows with the stream's schema."""
    from async_stream_processing_spark.streaming.replay import drain

    src = tmp_path / "empty"
    src.mkdir()
    stream = replay_stream(spark, str(src), EVENTS_SCHEMA)
    for mode, plan in (("append", stream),
                       ("complete", stream.groupBy("user_id").count())):
        out = drain(plan, output_mode=mode)
        assert out.count() == 0
        assert [(f.name, f.dataType) for f in out.schema] == \
            [(f.name, f.dataType) for f in plan.schema]
