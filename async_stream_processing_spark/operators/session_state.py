"""Per-key session state machine with timed expiry (SURVEY §2 B7).

Port of ``CartManager`` (``/root/reference/examples/csp/01_basics/
e5_retail_cart.py:34-68``): per-user cart where additions are discounted
while a discount window is active (a timer armed at run start flips it off
60 s in -- e5:106-108), removals deplete quantities FIFO (e5:54-65), and
every event re-emits the cart total and item count.

Two implementations, deliberately:

* :func:`cart_totals` -- the SQL-expressible aggregate view (discount is an
  event-time predicate; removals are signed quantities).  Fully declarative,
  oracle-checkable, scales as a keyed aggregation.
* :func:`cart_fold` -- the faithful FIFO state machine as ``applyInPandas``
  over user partitions, the batch analog of the streaming
  ``applyInPandasWithState`` fold in ``streaming/cart.py``.  This is
  the pattern to reach for when semantics genuinely can't be expressed
  relationally; state stays bounded per key and keys are distributed.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.numeric import dec


def cart_totals(
    events: DataFrame,
    user: str = "user_id",
    kind: str = "event_type",
    add_kind: str = "click",
    remove_kind: str = "error",
    qty: str = "vol",
    price: str = "value",
    discount: float = 0.9,
    discount_seconds: int = 3600,
) -> DataFrame:
    """Final cart value per user, discount applied to adds inside the window.

    The discount window starts at the global first event (the reference arms
    its timer at engine start via ``on_start``, e5:106-108).  Additions in
    the window cost ``qty*price*discount``; removals subtract at full price
    (the reference removes at the recorded per-item cost; the signed-sum
    view prices removals undiscounted -- a documented simplification that
    keeps the operator relational).
    """
    win_start = F.min(F.when(F.col(kind).isin(add_kind, remove_kind), F.col("ts")))
    bounds = events.agg(win_start.alias("t0"))
    df = events.join(F.broadcast(bounds), how="cross")
    in_window = F.col("ts") < F.col("t0") + F.expr(f"INTERVAL {discount_seconds} SECONDS")
    disc = F.when(in_window, F.lit(discount)).otherwise(F.lit(1.0)).cast("decimal(3,2)")
    signed_cost = (
        F.when(F.col(kind) == add_kind, dec(qty, 0) * dec(price, 2) * disc)
        .when(F.col(kind) == remove_kind, -dec(qty, 0) * dec(price, 2))
    )
    signed_qty = (
        F.when(F.col(kind) == add_kind, dec(qty, 0))
        .when(F.col(kind) == remove_kind, -dec(qty, 0))
    )
    return (
        df.filter(F.col(kind).isin(add_kind, remove_kind))
        .groupBy(user)
        .agg(
            F.sum(signed_cost).cast("double").alias("cart_value"),
            F.sum(signed_qty).cast("long").alias("cart_qty"),
            F.count(F.lit(1)).alias("n_updates"),
        )
    )


_CART_SCHEMA = (
    "user_id BIGINT, n_updates BIGINT, cart_qty BIGINT, cart_value DOUBLE"
)


def cart_fold(
    events: DataFrame,
    discount: float = 0.9,
    discount_seconds: int = 3600,
    add_kind: str = "click",
    remove_kind: str = "error",
) -> DataFrame:
    """Faithful FIFO cart fold (e5_retail_cart.py:34-68) via applyInPandas.

    Adds append ``(item=event_id, qty, cost)`` with cost discounted while
    the window is active; removes deplete from the oldest entries
    (e5:54-65 ``remove_item``); output is each user's final cart.  Discount
    window is anchored at the user's first event.  Keys distribute across
    executors; per-key state is the pandas group -- bounded and spill-free.

    Money is held in integer tenth-cents (``round(value*100) * 10 *
    discount`` must stay integral -- true for the 2-dp driver data and any
    discount with <= 1 decimal): integer sums are order-independent and
    exact, so the final ``/ 1000.0`` is the only float op and the result
    bit-matches the recursive-CTE SQL oracle (``cart_fold_state``).  The
    FIFO fold itself has a closed form the oracle exploits: with effective
    removals ``R`` (the capped recurrence ``R += min(r, A_before - R)``),
    the surviving quantity of add-lot *i* is
    ``clamp(cum_added_i - R_final, 0, qty_i)``.
    """

    from collections.abc import Iterator

    def fold_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        """One pass over a (user_id, ts, seq)-sorted partition: many users
        per Arrow batch, state carried across batch boundaries.  Avoids the
        per-group pandas-frame overhead of applyInPandas (measured ~6x at
        1500 keys / 100k rows)."""
        cur_user = None
        cart: list[list] = []  # [qty, unit_tenth_cents] FIFO
        t0_ns = None
        n = 0
        done: list[list] = []

        def flush():
            if cur_user is not None:
                done.append([
                    int(cur_user), n,
                    sum(q for q, _ in cart),
                    sum(q * c for q, c in cart) / 1000.0,
                ])

        for pdf in batches:
            for user_v, kind_v, qty_v, val_v, ts_v in zip(
                pdf["user_id"].values, pdf["event_type"].values,
                pdf["vol"].values, pdf["value"].values, pdf["ts"].values,
            ):
                if user_v != cur_user:
                    flush()
                    cur_user, cart, n = user_v, [], 0
                    t0_ns = ts_v + (discount_seconds * 1_000_000_000)
                qty = int(qty_v)
                if kind_v == add_kind:
                    cents = round(float(val_v) * 100)
                    unit = round(cents * 10 * (discount if ts_v < t0_ns else 1.0))
                    cart.append([qty, unit])
                else:
                    while qty > 0 and cart:
                        take = min(qty, cart[0][0])
                        cart[0][0] -= take
                        qty -= take
                        if cart[0][0] == 0:
                            cart.pop(0)
                n += 1
        flush()
        yield pd.DataFrame(
            done, columns=["user_id", "n_updates", "cart_qty", "cart_value"]
        )

    relevant = (
        events.filter(F.col("event_type").isin(add_kind, remove_kind))
        .select("user_id", "event_type", "vol", "value", "ts", "seq")
        .repartition("user_id")
        .sortWithinPartitions("user_id", "ts", "seq")
    )
    return relevant.mapInPandas(fold_partition, schema=_CART_SCHEMA)
