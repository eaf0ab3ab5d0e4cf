"""Seeded input generators for the benchmark workloads.

Everything the engine reads is made here, in the benchmark process, from
a numpy ``Generator`` seeded by ``--seed``: the same seed lands the same
bytes.  Nothing is read from fixtures outside the checkout.

* :func:`events` -- a time-ordered event log in the registry's ``events``
  schema (``event_id, ts, user_id, event_type, value, props``) with
  Zipf-distributed user keys, so per-key windows and state see a skewed
  hot key the way real click/trade logs do.
* :func:`corpus` -- documents in the ``documents`` schema drawn from a
  Zipf vocabulary, with a planted share of near-duplicates (a copy of
  another document with one word replaced) whose pairs are returned for
  the recall check.
"""

from __future__ import annotations

import functools
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _zipf_pick(rng: np.random.Generator, n_keys: int, s: float,
               size: int, key_rng: np.random.Generator) -> np.ndarray:
    """``size`` draws from a Zipf(``s``) law over ``n_keys`` keys; the
    rank -> key mapping is a permutation drawn from ``key_rng``."""
    p = 1.0 / np.arange(1, n_keys + 1, dtype=np.float64) ** s
    ranks = rng.choice(n_keys, size=size, p=p / p.sum())
    return key_rng.permutation(n_keys)[ranks].astype(np.int64)


def _dict_strings(codes: np.ndarray, values: list[str]) -> pa.Array:
    return pa.DictionaryArray.from_arrays(
        pa.array(codes.astype(np.int32)), pa.array(values)
    ).cast(pa.string())


def events(rng: np.random.Generator, n: int, n_users: int = 4000,
           span_s: int = 30 * 86400, t0_us: int = T0_US,
           first_id: int = 0, zipf_s: float = 1.05,
           key_rng: np.random.Generator | None = None) -> pa.Table:
    """``n`` events over ``span_s`` seconds from ``t0_us``, ``event_id``
    assigned in ``ts`` order starting at ``first_id`` (the engine uses
    it as the total-order tie-breaker).  ``value`` has two decimals,
    ``props`` is ``{"k": <0..99>}`` as in the registry's fixtures.  Which
    user is the hot one comes from ``key_rng`` (default: ``rng``)."""
    ts = np.sort(rng.integers(0, span_s * 1_000_000, size=n)) + t0_us
    kinds = rng.integers(0, len(EVENT_TYPES), size=n)
    ks = rng.integers(0, 100, size=n)
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(_zipf_pick(rng, n_users, zipf_s, n,
                                       key_rng or rng)),
        "event_type": _dict_strings(kinds, list(EVENT_TYPES)),
        "value": pa.array(rng.integers(100, 20_000, size=n) / 100.0),
        "props": _dict_strings(ks, [f'{{"k": {k}}}' for k in range(100)]),
    })


def write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


def corpus(rng: np.random.Generator, n_docs: int, first_id: int = 0,
           dup_share: float = 0.05, words: tuple[int, int] = (30, 160)
           ) -> tuple[pa.Table, set[tuple[int, int]]]:
    """``n_docs`` documents of Zipf-drawn words laid out in sentences and
    lines, so the Gopher and C4 rules each keep some pages and drop
    others (too short, too few sentences, a blocklisted word).  A
    ``dup_share`` of them are near-duplicates: a copy of a distinct
    longer original with one word replaced, same layout (3-shingle
    Jaccard above 0.9, far inside the LSH's detection band).  Returns
    the table and the planted ``(lower id, higher id)`` pairs."""
    n_dup = int(n_docs * dup_share)
    n_orig = n_docs - n_dup
    lex, lex_p = _lexicon()
    lens = rng.integers(words[0], words[1], size=n_orig)
    idx = rng.choice(len(lex), size=int(lens.sum()), p=lex_p)
    # separator after each word: sentence ends ~1 in 10 words, and 2
    # in 5 sentence ends also end the line
    u = rng.random(len(idx))
    seps = np.where(u < 0.04, ".\n", np.where(u < 0.1, ". ", " "))
    bodies, at = [], 0
    for n in lens:
        w = [lex[i] for i in idx[at:at + n]]
        sp = list(seps[at:at + n])
        sp[-1] = "."
        bodies.append((w, sp))
        at += n
    for d in rng.choice(n_orig, size=max(1, n_orig // 50), replace=False):
        bodies[d][0][int(rng.integers(0, len(bodies[d][0])))] = "lorem"
    long_docs = np.flatnonzero(lens >= 100)
    srcs = rng.choice(long_docs, size=n_dup, replace=False)
    for src in srcs:
        w, sp = list(bodies[src][0]), bodies[src][1]
        w[int(rng.integers(0, len(w)))] = lex[int(rng.integers(8, len(lex)))]
        bodies.append((w, sp))
    order = rng.permutation(n_docs)  # ids are not in plant order
    pos = np.empty(n_docs, dtype=np.int64)
    pos[order] = np.arange(n_docs)
    texts = ["".join(a + b for a, b in zip(*bodies[old])) for old in order]
    planted = {tuple(sorted((first_id + int(pos[s]), first_id + int(pos[n_orig + j]))))
               for j, s in enumerate(srcs)}
    ids = np.arange(first_id, first_id + n_docs, dtype=np.int64)
    table = pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(["en"] * n_docs),
        "source": pa.array([f"src{i % 4}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })
    return table, planted


@functools.cache
def _lexicon(size: int = 20_000) -> tuple[list[str], np.ndarray]:
    """Fixed vocabulary (the same for every seed) and its Zipf(1) rank
    probabilities: common English stop words at the head, then random
    3-9 letter words."""
    stop = ["the", "and", "of", "to", "a", "in", "is", "that"]
    r = np.random.default_rng(0)
    letters = np.array(list("etaoinshrdlcumwfgypbvkjxqz"))
    out, seen = list(stop), set(stop)
    while len(out) < size:
        w = "".join(r.choice(letters, size=int(r.integers(3, 10))))
        if w not in seen and w not in ("lorem", "badword"):
            seen.add(w)
            out.append(w)
    p = 1.0 / np.arange(1, size + 1, dtype=np.float64)
    return out, p / p.sum()
