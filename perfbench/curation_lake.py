"""``curation_lake``: LLM-data curation into the versioned lake.

One unit is one pass over a freshly landed synthetic corpus (Zipf
vocabulary, a planted share of near-duplicates), at a path no earlier
pass used, so no session cache keyed on the input can serve it:

* ``llm.curation.gopher_quality`` and ``llm.curation.c4_quality`` decide
  which pages to keep (large generated expression trees: Catalyst and
  the whole-stage codegen cache),
* ``llm.dedup.minhash_dedup_pairs`` finds the near-duplicate pairs; the
  higher id of each pair is dropped,
* the survivors are bulk-committed as one new version of the lake with
  ``plans.versioned.commit_append(stats_cols=["doc_id"])``.

After the passes, a fixed set of point lookups reads pinned versions
with ``plans.versioned.scan_version``; each lookup is a unit too.  This
uses the lake the other way round from ``past_to_live``: one bulk write
followed by reads.  It bypasses ``streaming``.

Checks: every planted near-duplicate pair is found, the new version
adds exactly the survivors, and every lookup returns the rows the
committed survivors predict for its version.
"""

from __future__ import annotations

import time


import gen
from common import check, median

DOCS = 1_500
WARMUP_DOCS = 500
WARMUP_PASSES = 1
#: nominal seconds per pass on a 4-core host: ``--seconds`` buys
#: ``seconds / PASS_S`` passes, the same count on every run
PASS_S = 3.0
MIN_PASSES = 3
LOOKUPS = 16
#: near-duplicate threshold; planted pairs sit above 0.9
THRESHOLD = 0.7
#: doc ids of pass k start at k * ID_STRIDE, so versions never overlap
ID_STRIDE = 1_000_000


def _pass(b, d: str, lake: str, planted: set) -> tuple[float, set, int]:
    from async_stream_processing_spark.llm.curation import (
        c4_quality,
        gopher_quality,
    )
    from async_stream_processing_spark.llm.dedup import minhash_dedup_pairs
    from async_stream_processing_spark.plans.versioned import commit_append
    from async_stream_processing_spark.sources.parquet import load_table

    spark = b.spark
    t0 = time.perf_counter()
    with b.span("sources.parquet.plan"):
        docs = load_table(spark, d, "documents")
    with b.span("llm.curation.plan"):
        keep = (gopher_quality(docs).filter("keep").select("doc_id")
                .join(c4_quality(docs).filter("keep"), "doc_id", "left_semi"))
    b.tracer.planning(keep)
    with b.span("llm.curation.exec"):
        kept = {r.doc_id for r in keep.collect()}
    # minhash_dedup_pairs checkpoints its candidates eagerly, so the
    # call itself already executes
    with b.span("llm.dedup.exec"):
        pairs = minhash_dedup_pairs(docs, threshold=THRESHOLD)
        found = {(r.doc_a, r.doc_b)
                 for r in pairs.select("doc_a", "doc_b").collect()}
    survivors = kept - {hi for _, hi in found}
    ids = spark.createDataFrame([(i,) for i in sorted(survivors)],
                                "doc_id BIGINT")
    with b.span("plans.versioned.commit"):
        version = commit_append(docs.join(ids, "doc_id", "left_semi"), lake,
                                stats_cols=["doc_id"])
    dt = time.perf_counter() - t0

    from async_stream_processing_spark.plans.versioned import (
        read_version,
        versions,
    )

    missed = planted - found
    check(not missed, f"{len(missed)} planted near-duplicate pairs missed")
    older = [v for v in versions(lake) if v < version]
    before = read_version(spark, lake, older[-1]).count() if older else 0
    added = read_version(spark, lake, version).count() - before
    check(added == len(survivors),
          f"version {version} added {added} rows for {len(survivors)} "
          f"survivors")
    b.tracer.count("llm.dedup.verified", len(found))
    if b.tracer.enabled:
        _count_candidates(b, docs)
    return dt, survivors, version


def _count_candidates(b, docs) -> None:
    """LSH candidate pairs before verification (traced run only; it
    recomputes the signatures, so it is tracing overhead)."""
    from async_stream_processing_spark.llm.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    t0 = time.perf_counter()
    b.tracer.count("llm.dedup.candidates",
                   lsh_candidate_pairs(minhash_signatures(docs)).count())
    b.tracer.overhead_s += time.perf_counter() - t0


def _land(b, k: int, n: int):
    d = b.fresh_dir("docs")
    with b.span("inputs.land"):
        table, planted = gen.corpus(b.rng(3, k), n, first_id=k * ID_STRIDE)
        gen.write(table, f"{d}/documents.parquet")
    return d, planted


def warmup(b) -> None:
    lake = b.fresh_dir("lake")
    for k in range(WARMUP_PASSES):
        d, planted = _land(b, 1000 + k, b.size(WARMUP_DOCS, 200))
        with b.span("warmup"):
            b.unit(_pass, b, d, lake, planted)
        b.settle()


def _lookup(b, lake: str, version: int, doc_id: int, present: bool):
    from async_stream_processing_spark.plans.versioned import (
        read_version,
        scan_version,
    )

    t0 = time.perf_counter()
    with b.span("plans.versioned.lookup"):
        df = scan_version(b.spark, lake, "doc_id", doc_id, doc_id,
                          version=version)
        rows = df.select("doc_id").collect()
    dt = time.perf_counter() - t0
    check([r.doc_id for r in rows] == ([doc_id] if present else []),
          f"lookup of {doc_id} at v{version}: {rows}, present={present}")
    if b.tracer.enabled:
        b.tracer.count("lookup.files_read", len(df.inputFiles()))
        b.tracer.count("lookup.files_in_version", len(
            read_version(b.spark, lake, version).inputFiles()))
    return dt


def measure(b) -> dict:
    n = b.size(DOCS, 300)
    lake = b.fresh_dir("lake")
    times, kept, vers = [], [], []
    passes = max(MIN_PASSES, round(b.seconds / PASS_S))
    for k in range(passes):
        d, planted = _land(b, k, n)
        got = b.unit(_pass, b, d, lake, planted)
        if got is not None:
            times.append(got[0])
            kept.append(got[1])
            vers.append(got[2])
        b.settle()
    check(len(kept) == passes, "a pass failed; lookups need every version")
    # pinned-version lookups: three in four hit a survivor committed at
    # or before the version, one in four a document that is not there at
    # that version (pruned to no files, a faster read that the median
    # then does not straddle)
    rng = b.rng(3, 9999)
    lat = []
    for i in range(LOOKUPS):
        v = i % passes
        if i % 4:
            doc = int(rng.choice(sorted(kept[int(rng.integers(0, v + 1))])))
            present = True
        else:
            later = int(rng.integers(v + 1, passes + 1))
            doc = later * ID_STRIDE + int(rng.integers(0, n))
            present = any(doc in s for s in kept[:v + 1])
        dt = b.unit(_lookup, b, lake, vers[v], doc, present)
        if dt is not None:
            lat.append(dt)
    c = b.tracer.counters
    if c.get("lookup.files_in_version"):
        b.tracer.count("plans.versioned.lookup_files_read_ratio",
                       c["lookup.files_read"] / c["lookup.files_in_version"])
    return {"records_per_s": n / median(times), "latency_p50_s": median(lat),
            "units": len(times) + len(lat), "passes": len(times),
            "unit_s": times + lat}
