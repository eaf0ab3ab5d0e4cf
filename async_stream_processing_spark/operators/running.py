"""Running aggregations over latest values (SURVEY §2 B3/B4).

Ports:

* ``Calculator.new_value`` (``/root/reference/examples/csp/01_basics/
  e2_ticking.py:10-27``): on every tick of either input, update the
  last-seen ``x``/``y``, emit ``x+y`` and a cumulative accumulator.
* spread = ask - bid (``e3_show_graph.py:11-29``): pairwise combine with
  last-value semantics, emitted once both sides have ticked.

Both are last-value carry-forward over the merged ``(ts, seq)`` order plus
arithmetic in exact decimal space (see ``functions.numeric``), expressed as
window functions so Catalyst plans a single sort per partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.numeric import dec
from ..plans.event_relation import SEQ, TS
from .merge import last_value_merge


def _cum_window(partition_by: list[str] | None):
    return (
        Window.partitionBy(*(partition_by or []))
        .orderBy(F.col(TS), F.col(SEQ))
        .rowsBetween(Window.unboundedPreceding, 0)
    )


def running_combine(
    x: DataFrame,
    y: DataFrame,
    value_col: str = "value",
    combine: str = "sum",
    partition_by: list[str] | None = None,
) -> DataFrame:
    """B3: at every tick of either stream emit ``last_x + last_y`` (decimal-
    exact) and the running total of that sum across all ticks where both
    sides are defined."""
    merged = last_value_merge({"x": x, "y": y}, value_col, partition_by)
    merged = merged.withColumn("x_dec", dec("x", 2)).withColumn("y_dec", dec("y", 2))
    both = F.col("x_dec") + F.col("y_dec")
    merged = merged.withColumn("xy_sum", both)
    cum = F.sum("xy_sum").over(_cum_window(partition_by))
    return (
        merged.withColumn("accum", cum.cast("double"))
        .withColumn("xy_sum", F.col("xy_sum").cast("double"))
        .drop("x_dec", "y_dec")
    )


def spread(
    bid: DataFrame,
    ask: DataFrame,
    value_col: str = "value",
    partition_by: list[str] | None = None,
) -> DataFrame:
    """B4: ``ask - bid`` on every tick once both sides have ticked."""
    merged = last_value_merge({"bid": bid, "ask": ask}, value_col, partition_by)
    return merged.withColumn(
        "spread", (dec("ask", 2) - dec("bid", 2)).cast("double")
    ).filter(F.col("bid").isNotNull() & F.col("ask").isNotNull())
