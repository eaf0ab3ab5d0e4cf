"""Per-user cart with timed discount expiry -- batch AND live.

Mirrors ``/root/reference/examples/csp/01_basics/e5_retail_cart.py``:
adds are discounted 10% while the discount window is open (a timer flips
it off 60 s in -- e5:106-108), removes deplete FIFO.  Batch runs the fold
as one mapInPandas pass; the live variant replays the same events through
``applyInPandasWithState`` where an ``EventTimeTimeout`` is the timer.
"""

from __future__ import annotations

import tempfile
from datetime import timedelta

from common import T0, get_example_spark, show

EVENTS = [
    # (ts_offset_s, user, kind, price, qty)
    (0, 1, "click", 10.0, 2),    # discounted adds
    (10, 2, "click", 5.0, 1),
    (70, 1, "click", 20.0, 1),   # after the 60 s window -> full price
    (80, 1, "error", 0.0, 2),    # FIFO removal
]
SCHEMA = "ts timestamp, seq long, user_id long, event_type string, value double, vol long"


def _df(spark):
    rows = [
        (T0 + timedelta(seconds=s), i + 1, u, k, p, q)
        for i, (s, u, k, p, q) in enumerate(EVENTS)
    ]
    return spark.createDataFrame(rows, SCHEMA)


def main(spark):
    from async_stream_processing_spark.operators.session_state import cart_fold

    batch = cart_fold(_df(spark), discount=0.9, discount_seconds=60)
    show(batch.orderBy("user_id"), label="e5 cart fold (batch)")

    # live: same events through the stateful streaming fold
    from async_stream_processing_spark.streaming.cart import cart_stream
    from async_stream_processing_spark.streaming.replay import (
        await_drain,
        process_stream,
        replay_stream,
    )

    with tempfile.TemporaryDirectory() as tmp:
        _df(spark).write.parquet(f"{tmp}/src")
        out = []
        q = process_stream(
            cart_stream(replay_stream(spark, f"{tmp}/src", SCHEMA),
                        discount=0.9, discount_seconds=60),
            lambda b, _: out.extend(b.collect()),
            checkpoint=f"{tmp}/ckpt",
        )
        await_drain(q, 120)
    print("-- e5 cart fold (live, per-event):")
    for r in sorted(out, key=lambda r: (r["user_id"], r["event_kind"])):
        print("  ", r.asDict())
    return batch


if __name__ == "__main__":
    main(get_example_spark())
