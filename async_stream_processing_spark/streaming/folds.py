"""Bounded-state incremental streaming folds (round-9 verdict item 1).

The round-8 streaming twins of the sequential-recurrence family (CUSUM,
EWMA, Wilder RSI, OLS trend, max drawdown) held each key's ENTIRE event
history in aggregation state (``array_sort(collect_list(...))`` under
complete mode) — exact, arrival-order-independent, and a straight OOM
at 100x scale: a hot key with 1e9 events is 1e9 struct rows in the
state store.

This module replaces that pattern with the ``streaming/cart.py``
machinery: ``applyInPandasWithState`` keyed folds whose per-key state
is a FIXED-WIDTH struct of sufficient statistics — O(1) longs per key,
never O(events), bounded BY CONSTRUCTION (the state schema admits no
arrays/maps/strings; pytest asserts that structurally).  Each
micro-batch's rows are sorted per key in (ts, event_id) event-time
order and folded into the carried statistics; the watermark bounds how
late a row may arrive (the reference itself has NO late tolerance —
SURVEY §2 — so any watermark is strictly more forgiving).

ONE TABLE, :data:`FOLD_KINDS`, holds every fact about each of the seven
kinds: its state DDL (the checkpoint format), the input value column,
its kernel, the core a key starts from, how a core packs into and out
of the state row, and — for the per-event kinds — the DDL of the rows
it emits.  :func:`fold_stream` drives the ordered path from it, the
reorder-buffered path in :mod:`streaming.reorder` drives its twin from
the same entries, and :func:`final_rows` keeps a drained fold's final
rows by the kind's convention.  Two families share the table:

* per-key (cusum, ewma, rsi, ols, drawdown): O(1) state; each batch
  emits ONE row per key carrying the state plus ``user_id``, and the
  drained final row per key is the one with max ``n`` (the cart-fold
  convention).
* per-event (bollinger, corr): O(k) state, the k-1 most recent values
  of a k-row frame (k = ``BOLLINGER_K``, fixed so the state stays a
  fixed-width scalar-long struct); each batch emits ONE row per event —
  the rolling series, not a per-key reduction.

Exactness discipline: every recurrence runs in the SAME scaled-integer
arithmetic as its batch twin (``operators/analytics.py``,
``operators/windows.py``), including Spark's truncate-toward-zero
integer division, so the drained stream still hash-matches the
batch/DuckDB oracle bit-for-bit.  All float math (RSI ratio, OLS
slope/r2, drawdown dollars, band and Pearson trees) happens AFTER the
fold, Spark-side, through the identical IEEE expression trees the
batch twins use.

Ordering contract: an incremental fold here is exact when each key's
rows arrive across micro-batches in non-decreasing (ts, event_id)
order — i.e. the source replays time-ordered, the normal shape of a
log/CDC source (Kafka per-partition order, time-partitioned file
landing).  Within a batch, arrival order is free (we sort).  The gated
fixtures replay the events table as K time-split files (oldest-first
file source order), so the cross-batch carry is genuinely exercised.
For sources that interleave rows out of time order ACROSS batches, the
reorder-buffered twins in :mod:`streaming.reorder` remove this
contract entirely (exact for any disorder within the watermark delay)
by holding rows in state until the watermark passes — these ordered
folds remain the zero-buffer fast path.  Both paths call the pure
kernels below through the same table entry, so the recurrences cannot
drift.

The reference's analog is a per-key Python accumulator in a callback
(``/root/reference/src/async_stream_processing/processor.py:185-194``
consumes events one at a time into closures); here the accumulator is
engine-managed keyed state that shards across executors.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any, NamedTuple

import numpy as np
import pandas as pd

__all__ = [
    "FOLD_KINDS",
    "STATE_SCHEMAS",
    "fold_stream",
    "final_rows",
]

#: Frame width of the O(k) rolling folds' state (bollinger, corr: k-1
#: carried values).  Fixed at module level so the state schema stays a
#: FIXED-WIDTH struct of scalar longs — the same structural boundedness
#: guarantee as the O(1) folds, for k known at plan time.
BOLLINGER_K = 20


# ---------------------------------------------------------------------------
# Pure recurrence kernels.  Each consumes a core plus event-time ordered
# values and returns the advanced core (and, for the per-event family,
# the emitted rows).  They are the SINGLE definition of every
# recurrence — the ordered folds below and the reorder-buffered folds
# in streaming/reorder.py both call them through FOLD_KINDS, so the two
# paths cannot drift (differential-tested besides).
# ---------------------------------------------------------------------------

def cusum_kernel(core, xs, eids, slack: int = 50,
                 threshold: int = 2000) -> tuple:
    """Page's one-sided CUSUM with O(1) state: (anchor, c, m, smax,
    n_over, alarm, n) — the sufficient statistics of
    ``operators/analytics.cusum_drift``'s reflected-walk form: c =
    cumsum(x - anchor - slack), m = min(0, running-min c), statistic
    s = c - m.  The alarm id is the MIN alarming event_id (order-free,
    same as the batch MIN(CASE...)).  ``xs`` are integer cents, computed
    Spark-side."""
    anchor, c, m, smax, n_over, alarm, n = core
    for x, eid in zip(xs, eids):
        if n == 0:
            anchor = x
        c += x - anchor - slack
        if c < m:
            m = c
        s = c - m
        if s > smax:
            smax = s
        if s > threshold:
            n_over += 1
            if alarm is None or eid < alarm:
                alarm = eid
        n += 1
    return (anchor, c, m, smax, n_over, alarm, n)


def ewma_kernel(core, xs, w_old: int = 7, w_new: int = 3,
                den: int = 10) -> tuple:
    """EWMA (alpha = w_new/den; default 0.3 — the x7/x3 scaled-integer
    dialect of ``operators/windows.ewma_exact``) with O(1) state (ew, n).
    The recurrence ``ew = trunc((ew*w_old + x*w_new) / den)`` matches
    Spark's ``(y - y % den) / den`` truncate-toward-zero division for
    any sign (the fuzz grammar exercises non-default weights)."""
    ew, n = core
    for x in xs:
        if n == 0:
            ew = x
        else:
            y = ew * w_old + x * w_new
            ew = y // den if y >= 0 else -((-y) // den)
        n += 1
    return (ew, n)


def rsi_kernel(core, ys, period: int = 14) -> tuple:
    """Wilder RSI smoothing with O(1) state: the previous value (to
    derive the diff across the batch boundary) and the two Wilder
    accumulators (avg gain/loss, x1e6 scaled ints).  Seed = the FIRST
    gain/loss (the recursive-seed dialect of
    ``operators/windows.rsi_wilder``); thereafter
    ``acc = trunc((acc*(p-1) + v) / p)``."""
    prev_y, ag, al, n = core
    for y in ys:
        if n >= 1:
            d = y - prev_y
            g = (d if d > 0 else 0) * 1_000_000
            loss = (-d if d < 0 else 0) * 1_000_000
            if n == 1:
                ag, al = g, loss
            else:
                ag = (ag * (period - 1) + g) // period
                al = (al * (period - 1) + loss) // period
        prev_y = y
        n += 1
    return (prev_y, ag, al, n)


def ols_kernel(core, ys) -> tuple:
    """Per-key OLS over (index, y) with O(1) state: the FOUR carried
    integer sums (n, sy, sxy, syy); sx/sxx come closed-form from n
    downstream (``n(n+1)/2``, ``n(n+1)(2n+1)/6`` — exact integer
    ``div``), exactly as the batch ``ols_trend``.  The time index is the
    1-based event-time position, so the carried ``n`` numbers the first
    row of each batch correctly."""
    n, sy, sxy, syy = core
    for y in ys:
        n += 1
        sy += y
        sxy += n * y
        syy += y * y
    return (n, sy, sxy, syy)


def drawdown_kernel(core, xs) -> tuple:
    """Equity/peak/drawdown recurrence with O(1) state in integer cents:
    eq = running sum, peak = running max(eq), dd = max(peak-eq).  First
    value SEEDS the equity (same as the batch fold's init)."""
    eq, peak, dd, n = core
    for x in xs:
        if n == 0:
            eq = x
            peak = x
            dd = 0
        else:
            eq += x
            if eq > peak:
                peak = eq
            elif peak - eq > dd:
                dd = peak - eq
        n += 1
    return (eq, peak, dd, n)


def bollinger_kernel(core: list, uid, ts_list, eids, xs,
                     k_carry: int = BOLLINGER_K - 1):
    """Rolling k-row Bollinger frame sums with O(k) state — the
    bounded-WINDOW case of the family (CUSUM/EWMA/OLS carry O(1)
    scalars; a rows-frame statistic needs the k-1 most recent values to
    retire the departing element, and nothing more — never the event
    history).  ``core`` is the list of the k-1 most recent values
    (oldest first).  Returns (new core, emitted rows) — ONE row per
    event, (user_id, ts, event_id, n, sx_c, sxx_c4): the EXACT integer
    frame sums (n, sum-cents, sum-cents²·1e-4) of the last k values in
    (ts, event_id) order.  The mean/±2σ IEEE tree runs Spark-side
    downstream, identical to ``operators/windows.bollinger_bands``, so
    the drained series hash-matches the batch oracle row for row."""
    buf = list(core)
    rows = []
    run_sx = sum(buf)
    run_sxx = sum(v * v for v in buf)
    for ts, eid, x in zip(ts_list, eids, xs):
        rows.append((uid, ts, eid, len(buf) + 1,
                     run_sx + x, run_sxx + x * x))
        buf.append(x)
        run_sx += x
        run_sxx += x * x
        if len(buf) > k_carry:
            old = buf.pop(0)
            run_sx -= old
            run_sxx -= old * old
    assert len(buf) <= k_carry  # bounded BY CONSTRUCTION
    return buf, rows


def corr_kernel(core: tuple, uid, ts_list, eids, xs,
                k_carry: int = BOLLINGER_K - 1):
    """Rolling lag-1 Pearson frame sums with O(k) state — the
    two-series member of the bounded-window family: ``core`` = (prev_x,
    buf of the k-1 most recent (x, lag-x) pairs); the lag crosses the
    micro-batch boundary through ``prev_x``.  Returns (new core, rows)
    — one row per event, (user_id, ts, event_id, n, sx_c, sy_c,
    sxy_c4, sxx_c4, syy_c4): the exact integer frame sums over the
    frame's lag-valid rows (the cents/cents² discipline of
    ``operators/windows.rolling_corr``); the Pearson IEEE tree runs
    Spark-side downstream.  Running sums retire the departing pair: O(1)
    per event."""
    prev_x, buf = core
    buf = list(buf)
    rows = []
    n_v = sum(1 for _, b in buf if b is not None)
    sx = sum(a for a, b in buf if b is not None)
    sy = sum(b for _, b in buf if b is not None)
    sxy = sum(a * b for a, b in buf if b is not None)
    sxx = sum(a * a for a, b in buf if b is not None)
    syy = sum(b * b for _, b in buf if b is not None)
    for ts, eid, x in zip(ts_list, eids, xs):
        y = prev_x
        if y is not None:
            rows.append((uid, ts, eid, n_v + 1, sx + x, sy + y,
                         sxy + x * y, sxx + x * x, syy + y * y))
        else:
            rows.append((uid, ts, eid, n_v, sx, sy, sxy, sxx, syy))
        buf.append((x, y))
        if y is not None:
            n_v += 1
            sx += x
            sy += y
            sxy += x * y
            sxx += x * x
            syy += y * y
        if len(buf) > k_carry:
            ox, oy = buf.pop(0)
            if oy is not None:
                n_v -= 1
                sx -= ox
                sy -= oy
                sxy -= ox * oy
                sxx -= ox * ox
                syy -= oy * oy
        prev_x = x
    assert len(buf) <= k_carry
    return (prev_x, buf), rows


def _ts_back(t_ns: list) -> list:
    """Epoch-nanosecond ints back to the timestamps a per-event row
    carries (exact round-trip with pandas datetime64[ns])."""
    return [pd.Timestamp(t) for t in t_ns]


def _keyed(core: tuple, uid) -> tuple:
    """A per-key kernel's result as (core, rows): its one emitted row
    is the state plus ``user_id``."""
    return core, [(*core, uid)]


def _pack_frame(buf: list) -> tuple:
    """bollinger core -> state row: cnt + the k-1 most recent values,
    oldest first, unused tail NULL."""
    return (len(buf), *buf, *([None] * (BOLLINGER_K - 1 - len(buf))))


def _unpack_frame(st) -> list:
    return list(st[1:1 + st[0]])


def _pack_pairs(core: tuple) -> tuple:
    """corr core -> state row: cnt, the carried previous value, then the
    k-1 most recent (x, lag-x) pairs flattened, unused tail NULL."""
    prev_x, buf = core
    flat = [v for pair in buf for v in pair]
    return (len(buf), prev_x, *flat,
            *([None] * (2 * (BOLLINGER_K - 1 - len(buf)))))


def _unpack_pairs(st) -> tuple:
    return st[1], [(st[2 + 2 * i], st[3 + 2 * i]) for i in range(st[0])]


class FoldKind(NamedTuple):
    """Everything the ordered and reorder-buffered paths know about one
    fold kind."""

    #: state DDL — the checkpoint format; fixed-width scalar longs ONLY
    #: (the boundedness claim is structural and pytest-asserted)
    state: str
    #: input column the kernel folds, beside ts / event_id / user_id
    value: str
    #: (core, user_id, ts_ns, event_ids, values, kw) -> (core', rows),
    #: values in (ts, event_id) order; rows are what a batch emits
    kernel: Callable
    #: the core before a key's first row
    init: Any
    #: per-event kinds: DDL of each emitted row; "" for per-key kinds,
    #: whose one row per key per batch is the state plus ``user_id``
    rows: str = ""
    #: core -> state-row fields, and back
    pack: Callable = tuple
    unpack: Callable = tuple

    @property
    def output(self) -> str:
        """DDL of the ordered fold's output rows."""
        return self.rows or self.state + ", user_id BIGINT"

    @property
    def width(self) -> int:
        """Number of state-row fields the core packs into."""
        return len(self.state.split(", "))


#: The fold kinds, in the order ``tools/fuzz_folds.py`` draws them.
FOLD_KINDS = {
    "cusum": FoldKind(
        "anchor BIGINT, c BIGINT, m BIGINT, smax BIGINT, "
        "n_over BIGINT, alarm BIGINT, n BIGINT",
        "x",
        lambda core, uid, t, e, v, kw: _keyed(
            cusum_kernel(core, v, e, **kw), uid),
        (0, 0, 0, 0, 0, None, 0),
    ),
    "ewma": FoldKind(
        "ew BIGINT, n BIGINT", "x",
        lambda core, uid, t, e, v, kw: _keyed(
            ewma_kernel(core, v, **kw), uid),
        (0, 0),
    ),
    "rsi": FoldKind(
        "prev_y BIGINT, ag BIGINT, al BIGINT, n BIGINT", "y",
        lambda core, uid, t, e, v, kw: _keyed(
            rsi_kernel(core, v, **kw), uid),
        (0, 0, 0, 0),
    ),
    "ols": FoldKind(
        "n BIGINT, sy BIGINT, sxy BIGINT, syy BIGINT", "y",
        lambda core, uid, t, e, v, kw: _keyed(
            ols_kernel(core, v, **kw), uid),
        (0, 0, 0, 0),
    ),
    "drawdown": FoldKind(
        "eq BIGINT, peak BIGINT, dd BIGINT, n BIGINT", "x",
        lambda core, uid, t, e, v, kw: _keyed(
            drawdown_kernel(core, v, **kw), uid),
        (0, 0, 0, 0),
    ),
    # O(k) rolling frame: cnt + the (k-1) most recent values, oldest
    # first, unused tail NULL — still a fixed-width scalar-long struct
    "bollinger": FoldKind(
        "cnt BIGINT, " + ", ".join(
            f"v{i} BIGINT" for i in range(BOLLINGER_K - 1)
        ),
        "x",
        lambda core, uid, t, e, v, kw: bollinger_kernel(
            core, uid, _ts_back(t), e, v, **kw),
        (),
        "user_id BIGINT, ts TIMESTAMP, event_id BIGINT, "
        "n BIGINT, sx_c BIGINT, sxx_c4 BIGINT",
        _pack_frame,
        _unpack_frame,
    ),
    # O(k) rolling (x, lag-x) pairs + the carried previous value; y is
    # NULL only for a key's very first row
    "corr": FoldKind(
        "cnt BIGINT, prev_x BIGINT, " + ", ".join(
            f"x{i} BIGINT, y{i} BIGINT" for i in range(BOLLINGER_K - 1)
        ),
        "x",
        lambda core, uid, t, e, v, kw: corr_kernel(
            core, uid, _ts_back(t), e, v, **kw),
        (None, ()),
        "user_id BIGINT, ts TIMESTAMP, event_id BIGINT, n BIGINT, "
        "sx_c BIGINT, sy_c BIGINT, sxy_c4 BIGINT, sxx_c4 BIGINT, "
        "syy_c4 BIGINT",
        _pack_pairs,
        _unpack_pairs,
    ),
}

STATE_SCHEMAS = {name: kind.state for name, kind in FOLD_KINDS.items()}


def ddl_columns(ddl: str) -> list[str]:
    """Field names of a flat DDL string."""
    return [field.split(" ", 1)[0] for field in ddl.split(", ")]


def read_group(pdfs, value: str):
    """A key's rows in one micro-batch as (ts_ns, event_id, value) numpy
    columns, read without copying: ``pdfs`` is the Arrow-chunk iterator
    ``applyInPandasWithState`` hands a fold (or one DataFrame), and the
    chunks are concatenated only when the key arrived in more than one.
    ``ts`` is the datetime64[ns] column viewed as int64 epoch-ns."""
    if not isinstance(pdfs, pd.DataFrame):
        pdfs = list(pdfs)
        pdfs = pdfs[0] if len(pdfs) == 1 else pd.concat(
            pdfs, ignore_index=True)
    return (pdfs["ts"].to_numpy().view("int64"),
            pdfs["event_id"].to_numpy(), pdfs[value].to_numpy())


def apply_fold(stream, fold, output: str, state: str, delay: str):
    """Key ``stream`` by user and run ``fold`` under a ``delay``
    watermark: append mode, no timeout."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        stream.withWatermark("ts", delay)
        .groupBy("user_id")
        .applyInPandasWithState(
            fold,
            outputStructType=output,
            stateStructType=state,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def fold_stream(stream, kind: str, **kw):
    """The ordered, zero-buffer fold of ``kind`` over a (ts, event_id,
    user_id, <value>) stream; ``kw`` are the kernel's parameters.  Each
    batch sorts a key's rows in (ts, event_id) order, advances the
    carried core over them and emits the kind's rows (see the module
    docstring for the ordering contract)."""
    k = FOLD_KINDS[kind]
    cols = ddl_columns(k.output)

    def fold(key, pdfs, state):
        uid = int(key[0])
        core = k.unpack(state.get) if state.exists else k.init
        ts, eid, v = read_group(pdfs, k.value)
        order = np.lexsort((eid, ts))  # stable, (ts, event_id) order
        core, rows = k.kernel(
            core, uid, ts[order].tolist(), eid[order].tolist(),
            v[order].tolist(), kw,
        )
        state.update(k.pack(core))
        yield pd.DataFrame(rows, columns=cols, dtype=object)

    return apply_fold(stream, fold, k.output, k.state, "0 seconds")


def final_rows(out, kind: str, reordered: bool = False):
    """A drained fold's final rows.  Per-key kinds: each key's max-``n``
    row, its final state.  Per-event kinds emit each event once on the
    ordered path; their reorder-buffered twin re-emits pending events,
    and the max-``nb`` row per (user_id, event_id) is the event's exact
    value."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if not FOLD_KINDS[kind].rows:
        w = Window.partitionBy("user_id").orderBy(F.desc("n"))
    elif reordered:
        w = Window.partitionBy("user_id", "event_id").orderBy(F.desc("nb"))
    else:
        return out
    return (
        out.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk", "nb")
    )
