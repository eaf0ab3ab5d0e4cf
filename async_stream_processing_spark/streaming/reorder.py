"""Within-watermark reorder buffer for the incremental streaming folds
(round-9 verdict item 2).

The ordered folds in :mod:`streaming.folds` are exact when each key's
rows arrive across micro-batches in non-decreasing (ts, event_id)
order — the shape of a time-partitioned log.  This module removes that
contract for sources that interleave rows OUT of time order across
micro-batches, as long as the disorder stays within the watermark
delay (the standard streaming late-data bound; the reference's own
scheduler tolerates none at all — it processes a strictly time-sorted
heap, ``/root/reference/src/async_stream_processing/processor.py:75-76``).

Mechanism (per key, inside ``applyInPandasWithState``):

* PENDING BUFFER — arriving rows land in a (ts, event_id, value)
  buffer carried in state, merged and kept event-time sorted.
* FINALIZE ON WATERMARK — rows strictly older than the current
  watermark can never be preceded by a future arrival (Spark's
  watermark contract), so they are folded into the fixed-width core
  statistics IN EVENT-TIME ORDER and leave the buffer.  State size is
  therefore O(rows within the watermark horizon) per key — bounded by
  the source's disorder, never by history.
* SPECULATIVE EMISSION — each batch also emits the fold of
  core ⊕ sorted(pending): the exact result over every row seen so
  far.  This is what makes the drained output complete WITHOUT a
  sentinel flush row: at query end the last emission per key already
  folds the whole input, even though the tail rows never finalized.

For the per-event family (bollinger / rolling corr) every batch emits
final rows for the newly-finalized events plus speculative rows for
the still-pending ones, each tagged with a per-key emission sequence
``nb``; a drained consumer keeps, per (user_id, event_id), the row
with the highest ``nb`` — an event's last emission is its exact value
(its finalization batch, or the final batch if it never finalized).

One table: every kind comes from ``streaming.folds.FOLD_KINDS``, so
one :func:`reorder_step` and one :func:`reordered_fold_stream` serve
all seven.  The state schema is DERIVED from the ordered fold's: its
fixed-width core, then ``nb`` for the per-event kinds, then the
pending rows packed into ONE ``buf BINARY`` field (bounded by the
watermark horizon).  Output rows match the ordered fold's (plus ``nb``
for the per-event kinds), so the same oracles and ``folds.final_rows``
apply.

State layout: ``buf`` is little-endian int64, ``[ts_ns…, event_id…,
value…]`` — three equal runs, each in (ts, event_id) order.  It is not
three ``ARRAY<BIGINT>`` fields because Spark builds the state encoder
for an array with ``MapObjects``, whose lambda-variable ids come from a
global counter: the generated codec source differed every micro-batch,
so each batch paid two extra Janino compiles.  A fixed-width row plus
one binary field holds no lambda, so batch N+1 reuses batch N's
compiled codec.  :func:`_pack_buf` / :func:`_unpack_buf` convert at the
state boundary only; :func:`reorder_step` works on lists.

Exactness: both paths call the SAME pure kernels as the ordered folds
(``streaming/folds.py``), so the recurrences cannot drift; the
differential tests replay time-shuffled batches through the reorder
step and require bit-equality with the batch fold.
"""

from __future__ import annotations

from bisect import bisect_left

import numpy as np
import pandas as pd

from .folds import FOLD_KINDS, apply_fold, ddl_columns, read_group

__all__ = [
    "reordered_fold_stream",
    "REORDER_STATE_SCHEMAS",
]

_BUF_FIELD = "buf BINARY"


def _nb(kind) -> str:
    """The emission-counter field the per-event kinds add."""
    return ", nb BIGINT" if kind.rows else ""


#: reorder-buffered state schemas: the ordered fold's fixed-width core,
#: the per-event kinds' emission counter, then the packed pending rows
#: (bounded by the watermark horizon).
REORDER_STATE_SCHEMAS = {
    name: kind.state + _nb(kind) + ", " + _BUF_FIELD
    for name, kind in FOLD_KINDS.items()
}


def _pack_buf(bt, be, bv) -> bytes:
    """Pending rows -> the state's ``buf``: little-endian int64,
    ``[ts_ns…, event_id…, value…]``."""
    return np.array((bt, be, bv), dtype="<i8").tobytes()


def _unpack_buf(blob) -> tuple[list, list, list]:
    """The state's ``buf`` -> (ts_ns, event_id, value) lists."""
    bt, be, bv = np.frombuffer(blob, dtype="<i8").reshape(3, -1)
    return bt.tolist(), be.tolist(), bv.tolist()


def _merge_pending(state_tail, pdf, vcol: str):
    """Merge the carried pending buffer with the batch's rows, sorted
    by (ts, event_id).  The carried buffer is ALREADY sorted (it is
    this function's own output from the previous batch), so only the
    new batch is sorted and the two runs are merged — O(carry +
    batch·log batch) per batch instead of re-sorting the whole horizon
    (r10 verdict item 6: a hot key at high event rate holds its full
    watermark horizon in the carry).  Times ride as int64
    epoch-nanoseconds (exact round-trip with pandas datetime64[ns])."""
    from heapq import merge as _heap_merge

    carry = zip(state_tail[0] or (), state_tail[1] or (),
                state_tail[2] or ())
    ts, eid, v = read_group(pdf, vcol)
    new = sorted(zip(ts.tolist(), eid.tolist(), v.tolist()))
    merged = list(_heap_merge(carry, new))
    if not merged:
        return [], [], []
    bt, be, bv = (list(c) for c in zip(*merged))
    return bt, be, bv


def reorder_step(kind: str, core, nb, buf, pdf, wm_ns: int, uid,
                 kw: dict):
    """Pure reorder step — exposed for Spark-free differential testing.
    ``pdf`` is the key's batch rows: one DataFrame, or the chunks
    ``applyInPandasWithState`` hands the fold (``folds.read_group``).
    Merges the batch into the pending buffer, folds the rows older than
    the watermark into ``core``, and returns (core', nb', buf', rows).
    Per-key kinds emit one speculative row: the fold over core' ⊕
    pending, plus ``user_id``.  Per-event kinds emit final rows for the
    newly-finalized prefix plus speculative rows for the pending tail,
    each tagged with the emission sequence ``nb'`` — the drained
    consumer keeps max-``nb`` per event.  ``nb`` passes through
    untouched for per-key kinds."""
    k = FOLD_KINDS[kind]
    bt, be, bv = _merge_pending(buf, pdf, k.value)
    cut = bisect_left(bt, wm_ns)
    final: list = []
    if cut:
        core, final = k.kernel(core, uid, bt[:cut], be[:cut], bv[:cut], kw)
        bt, be, bv = bt[cut:], be[cut:], bv[cut:]
    _, rows = k.kernel(core, uid, bt, be, bv, kw)
    if k.rows:
        nb += 1
        rows = [r + (nb,) for r in final + rows]
    return core, nb, (bt, be, bv), rows


def reordered_fold_stream(stream, kind: str, delay: str = "10 minutes",
                          **kw):
    """Reorder-buffered twin of ``folds.fold_stream(stream, kind, **kw)``
    for any of the seven kinds: exact for any cross-batch arrival
    disorder within ``delay``.  Output rows are the ordered fold's, plus
    ``nb`` for the per-event kinds; keep the final rows with
    ``folds.final_rows(out, kind, reordered=True)``."""
    k = FOLD_KINDS[kind]
    width = k.width
    output = k.output + _nb(k)
    cols = ddl_columns(output)

    def fold(key, pdfs, state):
        uid = int(key[0])
        if state.exists:
            st = state.get
            core, buf = k.unpack(st[:width]), _unpack_buf(st[-1])
            nb = st[width] if k.rows else 0
        else:
            core, nb, buf = k.init, 0, (None, None, None)
        core, nb, buf, rows = reorder_step(
            kind, core, nb, buf, pdfs,
            state.getCurrentWatermarkMs() * 1_000_000, uid, kw,
        )
        state.update((*k.pack(core), *((nb,) if k.rows else ()),
                      _pack_buf(*buf)))
        yield pd.DataFrame(rows, columns=cols, dtype=object)

    return apply_fold(stream, fold, output, REORDER_STATE_SCHEMAS[kind],
                      delay)
