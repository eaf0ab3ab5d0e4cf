"""The event-relation convention: the engine's core data model.

The reference's only data abstraction is a timestamped event stream --
an ordered sequence of ``(datetime, value)`` pairs consumed one at a time
(``/root/reference/src/async_stream_processing/processor.py:169-194``,
``process_stream``).  Its determinism contract (SURVEY.md §3.4) is: with an
explicit ``start_time``, events across all registered streams are processed
in strict global event-time order, FIFO on ties (stable sort,
processor.py:61-62).

Our Spark-native analog is the **event relation**: a DataFrame with

* ``ts``  -- TimestampType event time (the reference's ``event_time``),
* ``seq`` -- BIGINT total-order tie-breaker: ``stream_id * 2^40 + position``
  (registration order, then position-in-stream -- exactly the reference's
  FIFO tie-break),
* payload columns (the reference's opaque ``value``; dataclass payloads map
  to plain columns / structs per SURVEY.md §1.4).

Nothing is ever actually "replayed" on the driver: a replay is a plan over a
relation globally ordered by ``(ts, seq)``.  At 100 TB the order is realized
per-partition (range partition on ``ts``) and operators that need the total
order (cumulative windows) express it as window specs that Spark executes
with a single range-partitioned sort, not a driver loop.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Bits reserved for position-in-stream inside ``seq``.  2^40 positions
#: (~1.1e12 events) per stream; 2^23 streams.  A 100 TB run with more events
#: per stream should switch to a struct-ordered sort instead.
_POSITION_BITS = 40

TS = "ts"
SEQ = "seq"


def with_seq(df: DataFrame, order: Sequence[str | Column] = (), stream_id: int = 0) -> DataFrame:
    """Stamp a deterministic ``seq`` column onto one stream.

    ``order`` are the payload columns that define position within equal
    timestamps (e.g. a unique event id).  The result's ``seq`` encodes
    (stream registration order, position-in-stream), mirroring the
    reference's FIFO tie-break for equal deadlines (processor.py:61-62).

    Uses a global ``row_number`` window: acceptable because ``seq`` is only
    required where a *total* order is already demanded by the operator
    (cumulative state); embarrassingly parallel operators never call this.
    """
    w = Window.orderBy(F.col(TS), *[F.col(c) if isinstance(c, str) else c for c in order])
    base = F.lit(stream_id).cast("long") * F.lit(1 << _POSITION_BITS).cast("long")
    return df.withColumn(SEQ, base + F.row_number().over(w).cast("long"))


def merge_streams(*streams: DataFrame) -> DataFrame:
    """Union K event relations into one totally ordered relation.

    The reference sequences all registered streams through one virtual
    clock (processor.py:64-100); ``merge_streams`` is the declarative
    equivalent: union-by-name with null-filling for payload columns the
    other streams lack, ordered by ``(ts, seq)`` on consumption.

    Each input must already carry a ``seq`` from :func:`with_seq` with a
    distinct ``stream_id`` -- that preserves registration-order FIFO ties.
    """
    out = streams[0]
    for s in streams[1:]:
        out = out.unionByName(s, allowMissingColumns=True)
    return out


def events_relation(spark, sf_dir: str) -> DataFrame:
    """Load the driver's ``events`` table as an event relation.

    ``event_id`` is already a deterministic arrival sequence (unique,
    assigned in ts order by the generator), so it serves as ``seq`` without
    a global window -- the scalable path.
    """
    from ..sources.parquet import load_table

    df = load_table(spark, sf_dir, "events")
    return df.withColumn(SEQ, F.col("event_id"))
