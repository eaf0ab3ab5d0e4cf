"""Live per-key session state with event-time timers (SURVEY §2 B7 live).

``CartManager`` (``/root/reference/examples/csp/01_basics/
e5_retail_cart.py:34-68``) holds a per-user cart and arms a timer that
flips the discount off 60 s after start (e5:106-108).
:func:`cart_stream` implements it with ``applyInPandasWithState``
(GroupState API): keyed state + ``EventTimeTimeout`` as the timer.  It
needs nothing beyond pyspark itself.  (Spark 4's
``transformWithStateInPandas`` offers finer state primitives, but its
Python state-server protocol imports ``google.protobuf``, which this
environment does not install.)

The fold applies the discount by comparing each event's time to the
per-user deadline (event-time exact even when the whole history lands in
one micro-batch) and uses the timeout to emit a ``discount_ended`` marker
when the watermark crosses the deadline -- the observable analog of the
reference's timer callback.  State is keyed by user: the state store
shards across executors (RocksDB provider for 100 TB runs).
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd

#: Output schema: one row per processed event (running totals) plus a
#: marker row when the discount timer fires.  ``n_updates`` is the per-user
#: event counter -- the final state row per user is the one with the max.
CART_OUTPUT_SCHEMA = (
    "user_id BIGINT, event_kind STRING, n_updates BIGINT, "
    "cart_qty BIGINT, cart_value DOUBLE"
)
CART_STATE_SCHEMA = "blob STRING"


def _summary(st: dict) -> tuple[int, float]:
    """(qty, value) of the cart from the running totals; unit costs are
    integer tenth-cents (same exact-money convention as the batch fold,
    operators/session_state.py), so totals are exact integers maintained
    O(1) per event and the one float op is the final division -- this is
    what lets the drained stream bit-match the ``cart_fold_state`` SQL
    oracle."""
    return (st.get("qty", 0), st.get("vtc", 0) / 1000.0)


def _fold_events(st: dict, pdf: pd.DataFrame, discount: float,
                 discount_seconds: int) -> list[tuple]:
    """Shared FIFO fold (e5_retail_cart.py:34-68): adds append
    (qty, unit_cost) with in-window discount; removes deplete oldest.
    Rows are folded in (ts, event_id) event-time order regardless of
    arrival order within the micro-batch."""
    out = []
    keys = [c for c in ("ts", "event_id", "seq") if c in pdf.columns]
    pdf = pdf.sort_values(keys, kind="mergesort")
    # zip over numpy arrays, not iterrows: ~20x fewer per-row allocations
    for user_v, kind_v, ts_v, qty_v, val_v in zip(
        pdf["user_id"].values, pdf["event_type"].values,
        pdf["ts"].values.astype("int64"), pdf["vol"].values, pdf["value"].values,
    ):
        ts_us = int(ts_v) // 1_000
        if st["t0"] is None:
            st["t0"] = ts_us
        in_window = ts_us < st["t0"] + discount_seconds * 1_000_000
        qty = int(qty_v)
        if kind_v == "click":
            cents = round(float(val_v) * 100)
            unit = round(cents * 10 * (discount if in_window else 1.0))
            st["items"].append([qty, unit])
            st["qty"] = st.get("qty", 0) + qty
            st["vtc"] = st.get("vtc", 0) + qty * unit
        else:
            while qty > 0 and st["items"]:
                take = min(qty, st["items"][0][0])
                st["items"][0][0] -= take
                qty -= take
                st["qty"] = st.get("qty", 0) - take
                st["vtc"] = st.get("vtc", 0) - take * st["items"][0][1]
                if st["items"][0][0] == 0:
                    st["items"].pop(0)
        st["n"] = st.get("n", 0) + 1
        out.append((int(user_v), str(kind_v), st["n"], *_summary(st)))
    return out


def cart_stream(stream, discount: float = 0.9, discount_seconds: int = 60,
                watermark: str = "0 seconds"):
    """Stateful cart over a (ts, user_id, event_type, value, vol) stream.

    The ``EventTimeTimeout`` is the reference's ``call_later`` (A6): armed
    at ``t0 + discount_seconds``; when the watermark passes it, the handler
    runs with ``state.hasTimedOut`` and emits the marker row.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fold(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        user_id = int(key[0])
        cols = ["user_id", "event_kind", "n_updates", "cart_qty", "cart_value"]
        if state.hasTimedOut:
            blob = state.get[0] if state.exists else None
            st = json.loads(blob) if blob else {"items": [], "t0": None}
            yield pd.DataFrame(
                [(user_id, "discount_ended", st.get("n", 0), *_summary(st))],
                columns=cols,
            )
            return
        st = json.loads(state.get[0]) if state.exists else {"items": [], "t0": None}
        first_event = st["t0"] is None
        out: list[tuple] = []
        for pdf in pdfs:
            out.extend(_fold_events(st, pdf, discount, discount_seconds))
        state.update((json.dumps(st),))
        if first_event and st["t0"] is not None:
            state.setTimeoutTimestamp(st["t0"] // 1000 + discount_seconds * 1000)
        yield pd.DataFrame(out, columns=cols)

    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fold,
            outputStructType=CART_OUTPUT_SCHEMA,
            stateStructType=CART_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
