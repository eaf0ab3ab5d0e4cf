"""One session-scoped artifact cache.

Several derived relations are shared by many queries over the same
corpus and are tiny next to it: the exact ANN ground truth
(``similarity.knn_bruteforce_cached``), the verified near-dup pair graph
(``dedup.verified_pairs_cached``) and the per-document term frequencies
(``text_analysis.tf_postings_cached``).  :func:`cached_artifact` builds
each once per Spark application, ``localCheckpoint``-s it, and hands the
materialized relation to every later caller.

The key is (builder, Spark application, the input plan's
``semanticHash``, the input files' fingerprint, params), and every hit
is re-verified with ``sameSemantics``, so a hash collision can only
cause a recompute, never a wrong reuse.  Plans compare logic, not data:
re-running the same read over a path whose parquet files were rewritten
or appended within one application would return the stale artifact.
``data_fingerprint`` closes that hole by folding the input files'
(path, mtime, size) into the key, so a rewritten or appended source
misses and recomputes.  A plan that cannot be hashed (Connect) is
rebuilt on every call.

Each builder keeps at most ``MAX_PER_BUILDER`` artifacts, evicted
first-in first-out.  ``pipeline._CANON_CACHE`` is separate on purpose:
it ``persist``-s whole corpora and unpersists them on eviction.

``inputFiles()`` is documented as a best-effort snapshot (and is empty
for non-file sources); a source that cannot be fingerprinted falls back
to plan-only keying, which stays correct for the immutable-input
sessions the cache targets.
"""

from __future__ import annotations

import os
from typing import Callable
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame

MAX_PER_BUILDER = 8

#: key -> (input DataFrame, checkpointed artifact), in insertion order
_ARTIFACTS: dict = {}


def data_fingerprint(df: DataFrame) -> tuple | None:
    """Hashable fingerprint of the DataFrame's file inputs:
    ``((path, mtime_ns, size), ...)`` sorted, or ``None`` when the
    inputs aren't local files we can stat (then callers key on plan
    semantics alone, as before)."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    out = []
    for uri in files:
        p = urlparse(uri)
        if p.scheme not in ("", "file"):
            return None  # remote store: no cheap stat — plan-only key
        local = unquote(p.path) if p.scheme == "file" else uri
        try:
            st = os.stat(local)
        except OSError:
            return None
        out.append((local, st.st_mtime_ns, st.st_size))
    return tuple(sorted(out))


def cached_artifact(
    df: DataFrame, params: tuple, build: Callable[[], DataFrame]
) -> DataFrame:
    """``build()`` localCheckpoint-ed once per (``df``, ``params``) in
    this Spark application, and the same relation on every later call.

    ``build``'s qualified name is part of the key, so each call site
    has its own namespace and its own ``MAX_PER_BUILDER`` entries."""
    builder = f"{build.__module__}.{build.__qualname__}"
    try:
        key = (
            builder, df.sparkSession.sparkContext.applicationId,
            df.semanticHash(), data_fingerprint(df), *params,
        )
    except Exception:
        key = None
    if key is not None and key in _ARTIFACTS:
        stored, art = _ARTIFACTS[key]
        try:
            if df.sameSemantics(stored):
                return art
        except Exception:
            pass
    art = build().localCheckpoint(eager=True)
    if key is not None:
        _ARTIFACTS.pop(key, None)
        while sum(k[0] == builder for k in _ARTIFACTS) >= MAX_PER_BUILDER:
            del _ARTIFACTS[next(k for k in _ARTIFACTS if k[0] == builder)]
        _ARTIFACTS[key] = (df, art)
    return art
