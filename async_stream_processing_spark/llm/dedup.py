"""Document deduplication: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Training-data dedup at 100 TB is the motivating workload (BASELINE.json
north star).  Plan shapes:

* **exact**: hash-groupBy on a normalized fingerprint -- one shuffle,
  map-side partial agg; the canonical doc is ``min(doc_id)``.
* **MinHash + LSH**: shingle -> 60-bit hash -> K permuted min-hashes ->
  band buckets -> self-join on (band, band-signature) -> candidate pairs ->
  exact-Jaccard verification.  Only the bucket join shuffles, and only
  same-bucket docs ever pair -- never all-pairs.  This is the scalable
  near-dup path (Broder 1997; the GPT-3/C4-style pipeline).
* **SimHash**: per-doc 64-bit signature by majority vote of token-hash
  bits (Charikar 2002; Manku et al. 2007 for the Hamming-band trick).
* **n-gram Jaccard**: exact pairwise similarity *within a blocking key*
  (here ``source``) via shingle-explode + co-group join -- quadratic only
  inside a block, used to validate the LSH recall.

Everything is built from ``functions.hashing``/``functions.text`` so every
operator has a bit-exact DuckDB oracle (md5-based hashing -- see
hashing.py; swap ``hash_mode='xxhash64'`` for production speed).
"""

from __future__ import annotations

import re
from contextlib import nullcontext

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import (
    MINHASH_P,
    minhash_coeffs,
    minhash_term,
    sql_stable_hash60,
    stable_hash60,
)
from ..functions.text import shingles, sql_tokens, tokens
from ..streaming.replay import shuffle_guard

N_MINHASH = 16
#: 8 bands x 2 rows: for planted near-dups at J>=0.8 the miss probability is
#: (1 - J^2)^8 < 0.1%, while J~0.05 background pairs stay ~99% filtered.
LSH_BANDS = 8


#: Logical nodes that imply the input is already behind a shuffle (its
#: partitioning is session-wide, not file-bound).
_WIDE_NODES = (
    "Window", "Aggregate", "Join", "Repartition", "Deduplicate", "Distinct",
)


def fan_out(df: DataFrame) -> DataFrame:
    """Repartition a narrow FILE-SCAN input before a CPU-heavy explode.

    An explode multiplies rows ~50x but inherits the scan's partitioning:
    a corpus that arrives as one small parquet file would serialize the
    whole shingle-hash pipeline onto one core.  When a scan-only input
    has fewer files than the session has slots, pay one cheap shuffle of
    the raw docs to unlock full parallelism; at real scale (files >=
    slots, e.g. any 100 TB corpus) this is a no-op.

    The probe is STATIC (analyzed plan string + input file list, ~10 ms):
    ``df.rdd.getNumPartitions`` is not safe here -- under AQE it
    materializes every upstream query stage, i.e. executes half the
    query to plan the query.  Derived inputs (already behind a window /
    aggregate / join shuffle) are left alone: their partitioning is the
    session's shuffle setting, and stacking another full-corpus shuffle
    on top would double the movement at scale.
    """
    if df.isStreaming:
        return df
    plan = df._jdf.queryExecution().analyzed().toString()
    # match node NAMES at tree positions (after the `+- `/`:- ` prefix),
    # not substrings -- an alias or file path containing "Join" must not
    # suppress the repartition
    for line in plan.splitlines():
        m = re.match(r"^[ :+\-]*([A-Za-z]+)", line)
        if m and m.group(1).startswith(_WIDE_NODES):
            return df
    target = df.sparkSession.sparkContext.defaultParallelism
    files = df.inputFiles()
    if 0 < len(files) < target:
        return df.repartition(target)
    return df


def _shingle_hash(mode: str) -> Column:
    if mode == "xxhash64":
        # production path: cheaper, not oracle-portable
        return F.abs(F.xxhash64(F.col("shingle")))
    return stable_hash60(F.col("shingle"))


def _hash_fn(hash_mode: str):
    """The per-string hash as a callable -- ONE definition for every
    narrow plan (signatures, bucket sets, simhash) so the oracle-portable
    md5 path and the production xxhash64 path can never drift apart."""
    if hash_mode == "xxhash64":
        return lambda s: F.abs(F.xxhash64(s))
    return stable_hash60


def _narrow_minhash_cols(hs: Column, coeffs) -> list[Column]:
    """mh_j expressions over a per-row shingle-hash array -- the narrow
    signature shared by minhash_signatures(plan='narrow') and
    corpus_bucket_sets (min over a multiset == min over its set, so the
    same expressions serve both the raw and the distinct array)."""
    return [
        F.array_min(F.transform(hs, lambda h: minhash_term(h, a, b)))
        for (a, b) in coeffs
    ]


def _band_structs(mh: list[Column], bands: int) -> list[Column]:
    """(band, sig) structs from a signature expression list -- the ONE
    definition of the band-signature encoding (``concat_ws('_', band,
    mh...)``); a store persisted by corpus_bucket_sets and candidates
    built by lsh_band_buckets must always agree on this format."""
    rows = len(mh) // bands
    return [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "_", F.lit(b), *[mh[b * rows + r] for r in range(rows)]
            ).alias("sig"),
        )
        for b in range(bands)
    ]


def exact_dedup(docs: DataFrame, text: str = "text") -> DataFrame:
    """Canonical doc per distinct normalized text + duplicate count."""
    key = F.md5(F.lower(F.trim(F.col(text))))
    return (
        docs.groupBy(key.alias("fingerprint"))
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _exploded_shingle_hashes(
    docs: DataFrame, n: int = 3, hash_mode: str = "md5"
) -> DataFrame:
    """(doc_id, h) WITH duplicates: the raw explode+hash scan, no shuffle.

    Duplicate-insensitive consumers (minhash: ``min`` over a multiset
    equals ``min`` over its set) use this directly and skip the distinct's
    full (doc_id, h) shuffle; set-semantics consumers (Jaccard counting)
    go through :func:`doc_shingle_hashes`.
    """
    return (
        fan_out(docs)
        .select("doc_id", F.explode(shingles("text", n)).alias("shingle"))
        .select("doc_id", _shingle_hash(hash_mode).alias("h"))
    )


def doc_shingle_hashes(
    docs: DataFrame,
    n: int = 3,
    hash_mode: str = "md5",
    max_doc_ratio: float | None = None,
) -> DataFrame:
    """(doc_id, h): distinct hashed word-n-gram shingles per document.

    ``max_doc_ratio`` enables the stop-shingle filter (SCALE.md): shingles
    present in more than that fraction of documents are dropped before any
    banding/joining.  Boilerplate shingles are exactly the ones that blow
    up LSH buckets and shared-shingle joins (bucket cost is sum of
    bucket^2), and they carry no dedup signal -- near-identical pairs still
    share plenty of rare shingles.  This is the skew guard for degenerate
    corpora at 100 TB.
    """
    sh = _exploded_shingle_hashes(docs, n, hash_mode).distinct()
    if max_doc_ratio is not None:
        n_docs = docs.select("doc_id").distinct().count()
        cap = int(n_docs * max_doc_ratio)
        hot = (
            sh.groupBy("h")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > cap)
            .select("h")
        )
        sh = sh.join(hot, "h", "left_anti")
    return sh


def minhash_signatures(
    docs: DataFrame,
    n_hashes: int = N_MINHASH,
    n: int = 3,
    hash_mode: str = "md5",
    plan: str = "narrow",
) -> DataFrame:
    """One row per doc: doc_id, mh_0 .. mh_{k-1} (the minhash signature).

    ``plan='narrow'`` (default): a per-document signature needs no
    aggregation at all -- each mh_j is ``array_min(transform(hashes,
    perm_j))`` over the document's own shingle array, a pure column
    expression.  ZERO shuffles: the whole LSH front half (signature ->
    band explode) now runs scan-side, and the first exchange in the
    dedup pipeline is the bucket self-join itself.  At 100 TB that
    removes a corpus-sized (doc_id, h) shuffle per run.

    ``plan='agg'``: the explode + keyed min-agg formulation (one
    map-side-combined shuffle).  Kept as the A/B twin and for inputs
    where one row's shingle array would not fit a single task (not a
    real corpus shape -- documents are bounded).

    Both plans produce IDENTICAL values: ``min`` over a multiset equals
    ``min`` over its set, and the hash/permutation expressions are
    shared.  Docs with fewer than ``n`` words have no shingles and are
    absent from either output.
    """
    coeffs = minhash_coeffs(n_hashes)
    if plan == "narrow":
        hs = F.transform(shingles("text", n), _hash_fn(hash_mode))
        out = fan_out(docs).select("doc_id", hs.alias("_hs"))
        cols = [F.col("doc_id")] + [
            mh.alias(f"mh_{j}")
            for j, mh in enumerate(
                _narrow_minhash_cols(F.col("_hs"), coeffs)
            )
        ]
        return out.filter(F.size("_hs") > 0).select(*cols)
    sh = _exploded_shingle_hashes(docs, n, hash_mode)
    aggs = [
        F.min(minhash_term(F.col("h"), a, b)).alias(f"mh_{j}")
        for j, (a, b) in enumerate(coeffs)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def lsh_band_buckets(
    signatures: DataFrame, n_hashes: int = N_MINHASH, bands: int = LSH_BANDS
) -> DataFrame:
    """(doc_id, band, sig): each doc's LSH bucket membership, one row per
    band.  This is the relation a 100 TB corpus persists **bucketed by
    ``sig``** (`plans/scale.write_bucketed`): deduping a new ingest batch
    then joins its buckets against the stored corpus WITHOUT reshuffling
    the corpus -- see tests/test_scale.py::test_incremental_dedup_bucketed.
    """
    band_cols = _band_structs(
        [F.col(f"mh_{j}") for j in range(n_hashes)], bands
    )
    return signatures.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.sig").alias("sig"))


def lsh_candidate_pairs(
    signatures: DataFrame, n_hashes: int = N_MINHASH, bands: int = LSH_BANDS
) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs agreeing on ALL rows of >= 1 band.

    Implemented as explode-to-(band, band_sig) + self-join on the bucket --
    the join key includes the full band signature, so bucket skew is the
    only skew (salt or raise ``bands`` if a degenerate corpus hits it).

    The bucket relation is EXPLICITLY repartitioned on the join key
    before the self-join: the join would shuffle both sides on
    (band, sig) anyway, but hoisting that shuffle into one shared
    exchange lets AQE's stage reuse compute the signature pass ONCE for
    both sides.  With the narrow (zero-shuffle) signature plan this is
    the only exchange before the join -- without it, an input behind a
    window/aggregate (e.g. the composed pipeline's exact-dedup stage)
    recomputes the whole signature derivation per join side
    (A/B at sf0.1: pipeline_end_to_end 6.0 s -> 3.4 s warm).
    """
    buckets = lsh_band_buckets(signatures, n_hashes, bands).repartition(
        "band", "sig"
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(b, ["band", "sig"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def jaccard_pairs_direct(
    shingle_hashes: DataFrame, threshold: float = 0.25
) -> DataFrame:
    """Exact Jaccard pairs in ONE pass: the shared-shingle self-join both
    discovers candidates and counts the intersection (vs. candidates-then-
    re-join, which touches the shingle table three times).  Pairs sharing
    zero shingles have Jaccard 0 and can never pass a positive threshold,
    so skipping them is exact, and the join itself is the blocking."""
    sizes = shingle_hashes.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # hoist the self-join's shuffle into one shared exchange (the
    # lsh_candidate_pairs lesson): the join would shuffle both sides on
    # ``h`` anyway; repartitioning first lets AQE stage reuse compute
    # the shingle-hash derivation ONCE for both join sides.
    keyed = shingle_hashes.repartition("h")
    a = keyed.alias("a")
    b = keyed.alias("b")
    inter = (
        a.join(b, "h")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "n_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "n_a", "n_b", "jaccard")
    )


def containment_pairs(
    shingle_hashes: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """Exact CONTAINMENT pairs: ``|A ∩ B| / min(|A|, |B|)`` -- the
    doc-inside-doc detector Jaccard structurally misses (a 100-shingle
    doc fully contained in a 10,000-shingle doc has containment 1.0 but
    Jaccard ~0.01, and near-zero probability of any minhash band
    agreeing).  Training corpora are full of this shape: quoted posts,
    boilerplate-wrapped articles, chapter-in-book.

    Same one-pass shared-shingle self-join as
    :func:`jaccard_pairs_direct` -- the join IS the blocking (a pair
    with containment > 0 shares a shingle), quadratic only within a
    shingle key, and the stop-shingle guard
    (``doc_shingle_hashes(max_doc_ratio=...)``) caps that key's width on
    boilerplate-heavy corpora.  All-integer counts until one final
    double division, bit-exact everywhere."""
    sizes = shingle_hashes.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # shared self-join exchange -- see jaccard_pairs_direct
    keyed = shingle_hashes.repartition("h")
    a = keyed.alias("a")
    b = keyed.alias("b")
    inter = (
        a.join(b, "h")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "n_b"), "doc_b")
        .withColumn(
            "containment",
            F.col("n_common").cast("double")
            / F.least("n_a", "n_b").cast("double"),
        )
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "n_common", "n_a", "n_b", "containment")
    )


def minhash_dedup_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    n_hashes: int = N_MINHASH,
    bands: int = LSH_BANDS,
    hash_mode: str = "md5",
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates verified at ``threshold``.

    The CANDIDATE relation is persisted (``localCheckpoint``): it is
    pair-graph-sized (tiny vs the corpus) and consumed three times --
    the doc_a/doc_b membership projections and the verification join --
    and the checkpoint also lets the membership side broadcast WITHOUT
    re-executing the signature -> bucket-join pipeline for the
    broadcast build.

    Verification is NARROW per pair: candidate documents (tiny by LSH
    construction) are selected scan-side by a broadcast semi-join, each
    keeps its distinct shingle-hash set as a per-row ARRAY
    (document-bounded), and exact Jaccard is ``array_intersect`` inside
    the pair join -- no second full-corpus shingle explode, no
    (doc_id, h) distinct shuffle, no three-way intersection join.
    A/B at sf0.1: 3.6-4.2 s -> 3.2-3.4 s warm, values bit-identical
    (tested); at 100 TB the whole verification stage touches only
    candidate documents.
    """
    sigs = minhash_signatures(docs, n_hashes, hash_mode=hash_mode)
    cands = lsh_candidate_pairs(sigs, n_hashes, bands).localCheckpoint(
        eager=True
    )
    cand_docs = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .union(cands.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    hs = F.array_distinct(
        F.transform(shingles("text", 3), _hash_fn(hash_mode))
    )
    sets = (
        fan_out(docs)
        .join(F.broadcast(cand_docs), "doc_id", "left_semi")
        .select("doc_id", hs.alias("hs"))
        .select("doc_id", "hs", F.size("hs").cast("long").alias("n"))
    )
    a = sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("hs").alias("hs_a"),
        F.col("n").alias("n_a"),
    )
    b = sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("hs").alias("hs_b"),
        F.col("n").alias("n_b"),
    )
    verified = (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn(
            "n_common", F.size(F.array_intersect("hs_a", "hs_b")).cast("long")
        )
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
        )
    )
    return verified.filter(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", "n_common", "n_a", "n_b", "jaccard"
    )


def verified_pairs_cached(
    docs: DataFrame,
    threshold: float = 0.25,
    n_hashes: int = N_MINHASH,
    bands: int = LSH_BANDS,
    hash_mode: str = "md5",
) -> DataFrame:
    """The verified near-dup pair relation as ONE session-scoped
    persisted artifact (r7 verdict item 6): ``dedup_pairs``,
    ``dedup_clusters``, ``dedup_keep_best`` and ``dedup_source_matrix``
    all consume the SAME (corpus, threshold) pair graph, and each
    re-deriving it repaid the full signature -> bucket-join -> verify
    floor (~4.7 s at sf0.1) per query.  The relation is pair-graph-sized
    (tiny vs the corpus), so keeping it ``localCheckpoint``-ed for the
    session costs near-nothing and every consumer after the first reads
    a materialized artifact — the \"share one persisted artifact\"
    structure a production pipeline would use (compute pairs once,
    write them, fan consumers out from the table).

    Keyed and re-verified by :func:`._cache.cached_artifact` (plan
    semantics plus input-file fingerprint), so a rewritten or appended
    source recomputes instead of serving the stale pair graph."""
    from ._cache import cached_artifact

    return cached_artifact(
        docs, (threshold, n_hashes, bands, hash_mode),
        lambda: minhash_dedup_pairs(
            docs, threshold, n_hashes, bands, hash_mode),
    )


def corpus_bucket_sets(
    docs: DataFrame,
    n_hashes: int = N_MINHASH,
    bands: int = LSH_BANDS,
    hash_mode: str = "md5",
) -> DataFrame:
    """(band, sig, doc_id, hs, n): LSH band buckets CARRYING each doc's
    distinct shingle-hash set -- the store-once relation an incremental
    dedup service persists **bucketed by ``sig``**
    (``plans/scale.write_bucketed``), so that every future ingest batch
    both finds its candidates AND verifies exact Jaccard from the one
    stored table, without ever reshuffling or re-reading the corpus
    text.  Entirely narrow (per-row column expressions over the doc's
    own shingle array: the ``minhash_signatures(plan='narrow')``
    lesson), so it also runs unchanged on a STREAMING relation --
    encode-on-ingest.

    The signature is computed over the DISTINCT hash array: ``min``
    over a set equals ``min`` over the multiset the batch twin uses,
    so signatures (and therefore buckets) are identical
    (test-pinned by ``test_minhash_narrow_equals_agg``).
    """
    coeffs = minhash_coeffs(n_hashes)
    hs = F.array_distinct(
        F.transform(shingles("text", 3), _hash_fn(hash_mode))
    )
    base = fan_out(docs).select("doc_id", hs.alias("hs")).filter(
        F.size("hs") > 0
    )
    mh = _narrow_minhash_cols(F.col("hs"), coeffs)
    band_cols = _band_structs(mh, bands)
    return base.select(
        "doc_id",
        "hs",
        F.size("hs").cast("long").alias("n"),
        F.explode(F.array(*band_cols)).alias("bk"),
    ).select(
        F.col("bk.band").alias("band"),
        F.col("bk.sig").alias("sig"),
        "doc_id",
        "hs",
        "n",
    )


def stream_incremental_dedup(
    new_docs: DataFrame,
    stored_sets: DataFrame,
    threshold: float = 0.25,
    n_hashes: int = N_MINHASH,
    bands: int = LSH_BANDS,
    hash_mode: str = "md5",
) -> DataFrame:
    """Incremental near-dedup ON INGEST: arriving documents (a streaming
    OR batch relation) are verified against the stored corpus
    (:func:`corpus_bucket_sets`, persisted bucketed by ``sig``) inside
    the arrival plan itself -- the reference's past->live posture
    (processor.py:185-194) composed with the north-star dedup.

    Plan, per micro-batch: the new docs' buckets + shingle sets compute
    NARROW (no state, no shuffle before the probe); the stream-static
    equi-join re-plans the static side each batch, and the corpus is
    never repartitioned in either planner outcome -- a small arriving
    batch BROADCASTS into the corpus scan (the observed micro-batch
    plan: BuildLeft on the stream side, the only shuffle exchange is
    the pair-level dedup), and at batch sizes where the planner picks
    a sort-merge join instead, the store's bucketing keeps the corpus
    side exchange-free.  Zero corpus-side exchange asserted by
    ``tests/test_scale.py::test_stream_incremental_dedup_zero_corpus_exchange``.
    Exact Jaccard is per-row ``array_intersect`` on the two carried
    sets; ``dropDuplicates`` collapses multi-band agreements (same pair
    -> same values, so survivor choice is immaterial; state is
    pair-keyed and watermark-boundable in production).

    Output matches the batch ``incremental_dedup`` oracle:
    (doc_new, doc_corpus, jaccard).
    """
    probe = corpus_bucket_sets(new_docs, n_hashes, bands, hash_mode)
    j = probe.alias("nw").join(stored_sets.alias("c"), ["band", "sig"])
    v = j.select(
        F.col("nw.doc_id").alias("doc_new"),
        F.col("c.doc_id").alias("doc_corpus"),
        F.size(F.array_intersect(F.col("nw.hs"), F.col("c.hs")))
        .cast("long")
        .alias("n_common"),
        F.col("nw.n").alias("n_a"),
        F.col("c.n").alias("n_b"),
    ).withColumn(
        "jaccard",
        F.col("n_common").cast("double")
        / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
    )
    return (
        v.filter(F.col("jaccard") >= threshold)
        .dropDuplicates(["doc_new", "doc_corpus"])
        .select("doc_new", "doc_corpus", "jaccard")
    )


def lsh_pair_recall(
    docs: DataFrame,
    threshold: float = 0.25,
    n_hashes: int = N_MINHASH,
    bands: int = LSH_BANDS,
    hash_mode: str = "md5",
) -> DataFrame:
    """Candidate-quality eval of the MinHash-LSH blocker against exact
    ground truth -- the dedup counterpart of ``similarity.recall_at_k``
    ("measure, don't guess"): before trusting banded LSH to replace the
    exact shared-shingle join at scale, measure what fraction of true
    >=threshold Jaccard pairs its candidate set covers (recall) and how
    much of the candidate set is junk the verifier must discard
    (precision).  A banding re-tune (n_hashes/bands trade recall for
    bucket width) shows up here as a changed row, not a hunch.

    One output row: n_true / n_cand / n_hit counts plus the two ratios.
    All-integer counts until two final double divisions (bit-exact
    everywhere); zero denominators yield NULL in both engines.  Ground
    truth costs one shared-shingle self-join -- affordable at eval-corpus
    scale, which is the point: tune on a slice, deploy the blocker on
    the 100 TB corpus."""
    sh = doc_shingle_hashes(docs, hash_mode=hash_mode)
    true_pairs = jaccard_pairs_direct(sh, threshold).select(
        "doc_a", "doc_b", F.lit(1).alias("__t")
    )
    cand = lsh_candidate_pairs(
        minhash_signatures(docs, n_hashes, hash_mode=hash_mode),
        n_hashes,
        bands,
    ).select("doc_a", "doc_b", F.lit(1).alias("__c"))
    # ONE full-outer join + ONE aggregate: the former three-aggregate
    # crossJoin form evaluated the exact-Jaccard self-join and the LSH
    # candidate self-join TWICE each (n_true + hits, n_cand + hits --
    # 90 Exchanges / 10 doc scans in the physical plan).  Both pair
    # relations are distinct on (doc_a, doc_b), so the outer join
    # preserves exact counts: n_true = rows with __t, n_cand = rows
    # with __c, n_hit = rows with both (guide #2.4: remove shuffles
    # outright / never evaluate an expensive subtree twice).
    both = true_pairs.join(cand, ["doc_a", "doc_b"], "full_outer")
    return (
        both.agg(
            F.count("__t").alias("n_true"),
            F.count("__c").alias("n_cand"),
            F.count(F.when(F.col("__t").isNotNull()
                           & F.col("__c").isNotNull(), 1)).alias("n_hit"),
        )
        .select(
            "n_true",
            "n_cand",
            "n_hit",
            F.when(
                F.col("n_cand") > 0,
                F.col("n_hit").cast("double") / F.col("n_cand").cast("double"),
            ).alias("pair_precision"),
            F.when(
                F.col("n_true") > 0,
                F.col("n_hit").cast("double") / F.col("n_true").cast("double"),
            ).alias("pair_recall"),
        )
    )


def lsh_s_curve(
    docs: DataFrame,
    n_hashes: int = N_MINHASH,
    bands: int = LSH_BANDS,
    hash_mode: str = "md5",
) -> DataFrame:
    """Empirical LSH detection curve: per true-Jaccard decile, what
    fraction of pairs the banded blocker catches -- the measured twin of
    the theoretical S-curve ``1 - (1 - s^r)^b`` that every banding
    parameter choice is made from.  :func:`lsh_pair_recall` answers
    "what is recall at my threshold"; this answers "WHERE does the
    blocker's cliff sit", which is what a re-tune actually needs (Mining
    of Massive Datasets ch. 3 shape; run on an eval slice, deploy the
    chosen (n_hashes, bands) on the full corpus).

    Ground truth = ALL shared-shingle pairs (anything with Jaccard > 0 --
    a pair sharing zero shingles has Jaccard 0 and is out of scope by
    construction); the vigintile bin is an integer quotient
    (``(20*n_common) div union``, clamped to 19), so binning is bit-exact
    in any engine.  Bin 0 holds the low-similarity mass the blocker is
    SUPPOSED to skip -- its near-zero catch rate is the junk-pair savings,
    while the top bins' catch rate is the recall cliff.  One
    shared-shingle self-join for truth + the narrow-signature bucket join
    for the candidates; ``catch_rate`` is the single IEEE division.
    """
    sh = doc_shingle_hashes(docs, hash_mode=hash_mode)
    truth = jaccard_pairs_direct(sh, 0.0).select(
        "doc_a",
        "doc_b",
        F.least(
            F.lit(19).cast("long"),
            F.expr("(20 * n_common) div (n_a + n_b - n_common)"),
        ).alias("j_bin"),
    )
    cand = lsh_candidate_pairs(
        minhash_signatures(docs, n_hashes, hash_mode=hash_mode),
        n_hashes,
        bands,
    ).withColumn("caught", F.lit(1))
    j = truth.join(cand, ["doc_a", "doc_b"], "left")
    return (
        j.groupBy("j_bin")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.coalesce(F.col("caught"), F.lit(0))).alias("n_caught"),
        )
        .select(
            "j_bin",
            "n_pairs",
            "n_caught",
            (
                F.col("n_caught").cast("double")
                / F.col("n_pairs").cast("double")
            ).alias("catch_rate"),
        )
    )


def simhash(
    docs: DataFrame,
    bits: int = 32,
    hash_mode: str = "md5",
    plan: str = "narrow",
) -> DataFrame:
    """Per-doc SimHash: bit j set iff the majority of the doc's (distinct)
    token hashes have bit j set.  Ties (exactly half) -> bit set, a fixed
    documented convention.

    ``plan='narrow'`` (default): a per-document signature needs no
    aggregation -- the distinct-token hash array is per-row
    (``array_distinct``), each bit's vote is a ``size(filter(...))``
    over it, and the signature assembles with shift-adds.  ZERO
    shuffles (the ``minhash_signatures`` narrow lesson); at 100 TB this
    removes the corpus-sized distinct-(doc, tok) exchange.

    ``plan='agg'``: the explode + distinct + groupBy formulation with
    ``bits`` conditional sums (one map-side-combined shuffle behind the
    distinct).  Values identical by construction.
    """
    if plan == "narrow":
        arr = F.array_distinct(
            F.split(F.lower(F.trim(F.col("text"))), " +")
        )
        hs = F.transform(arr, _hash_fn(hash_mode))
        # project ONLY the hash array (r11): aliasing hs twice in one
        # projection (_hs + size(hs)) evaluated the per-token md5
        # transform twice per row; n_tok is re-derived below as an O(1)
        # size() over the materialized column instead
        base = fan_out(docs).select("doc_id", hs.alias("_hs"))
        n_tok = F.size(F.col("_hs")).cast("long")
        sig = F.lit(0).cast("long")
        for j in range(bits):
            vote = F.size(
                F.filter(
                    F.col("_hs"),
                    lambda h: F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1,
                )
            ).cast("long")
            sig = sig + F.shiftleft(
                (vote * 2 >= n_tok).cast("long"), j
            )
        return base.select(
            "doc_id", sig.alias("simhash"), n_tok.alias("n_tok")
        )
    toks = (
        fan_out(docs)
        .select("doc_id", F.explode(F.split(F.lower(F.trim(F.col("text"))), " +")).alias("tok"))
        .distinct()
    )
    h = stable_hash60(F.col("tok")) if hash_mode == "md5" else F.abs(F.xxhash64("tok"))
    toks = toks.select("doc_id", h.alias("h"))
    votes = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        *[
            F.sum(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1))).alias(f"v_{j}")
            for j in range(bits)
        ],
    )
    sig = F.lit(0).cast("long")
    for j in range(bits):
        bit = (F.col(f"v_{j}") * 2 >= F.col("n_tok")).cast("long")
        sig = sig + F.shiftleft(bit, j)
    return votes.select("doc_id", sig.alias("simhash"), "n_tok")


def sql_simhash(src: str = "documents", bits: int = 32) -> str:
    """DuckDB twin of :func:`simhash` (``hash_mode='md5'``): the same
    distinct tokens, per-bit votes and majority rule (ties set), as
    ``(doc_id, simhash, n_tok)``."""
    votes = ",\n                   ".join(
        f"SUM((h >> {j}) & 1) AS v_{j}" for j in range(bits)
    )
    val = " + ".join(
        f"(CASE WHEN v_{j} * 2 >= n_tok THEN 1 ELSE 0 END * {1 << j})"
        for j in range(bits)
    )
    return f"""
        WITH toks AS (
            SELECT DISTINCT doc_id,
                   unnest(string_split_regex(lower(trim(text)), ' +')) AS tok
            FROM {src}),
        hashed AS (SELECT doc_id, {sql_stable_hash60('tok')} AS h FROM toks),
        votes AS (SELECT doc_id, COUNT(*) AS n_tok,
                   {votes}
                  FROM hashed GROUP BY doc_id)
        SELECT doc_id, CAST({val} AS BIGINT) AS simhash, n_tok FROM votes
    """


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 6,
    bits: int = 32,
    chunk_bits: int = 8,
    hash_mode: str = "md5",
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, banded for scale.

    Manku et al. (WWW'07): two signatures within Hamming distance d of
    each other must agree exactly on at least one of ceil(bits/chunk)
    chunks when d < bits/chunk_bits * 1 ... here 32 bits in 4 chunks of 8
    guarantees recall for d <= 3 and probabilistically catches most d <= 6;
    candidates join on (chunk_idx, chunk_value), then exact
    ``bit_count(xor)`` filters.  Never all-pairs.
    """
    # localCheckpoint: the self-join's two sides would otherwise each
    # execute the whole token->votes->signature pipeline (no exchange
    # reuse fires across the aliased branches) -- A/B-measured 2x faster
    # cold with the checkpoint, identical output.
    sigs = simhash(docs, bits=bits, hash_mode=hash_mode).localCheckpoint(eager=True)
    n_chunks = bits // chunk_bits
    mask = (1 << chunk_bits) - 1
    chunks = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("idx"),
                    F.shiftright(F.col("simhash"), i * chunk_bits)
                    .bitwiseAND(F.lit(mask))
                    .alias("val"),
                )
                for i in range(n_chunks)
            ])
        ).alias("c"),
    ).select("doc_id", "simhash", F.col("c.idx").alias("idx"), F.col("c.val").alias("val"))
    a = chunks.alias("a")
    b = chunks.alias("b")
    pairs = (
        a.join(b, ["idx", "val"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .distinct()
        .withColumn("hamming", F.bit_count(F.expr("sig_a ^ sig_b")))
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs.select("doc_a", "doc_b", "sig_a", "sig_b", "hamming")


def _iter_checkpoint(df: DataFrame) -> DataFrame:
    """Lineage truncation for iterative loops: RELIABLE checkpoint when the
    session has a checkpoint dir configured (the cluster-scale setting --
    survives executor loss), executor-local otherwise (fast, fine for
    single-node runs)."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def connected_components(
    edges: DataFrame, max_iter: int = 25
) -> tuple[DataFrame, int]:
    """Min-label connected components with pointer jumping: O(log d) rounds.

    ``edges`` is an undirected pair relation (doc_a, doc_b); returns
    (labels, rounds) where labels = (doc_id, cluster_id) with cluster_id =
    min doc_id of the component.  Each round does two label updates:

    1. **neighbor-min**: every node takes the min label over itself and
       its neighbors (one join + one map-side-combined aggregation);
    2. **pointer jump**: labels are themselves node ids, so re-resolving
       ``label(label(v))`` through a self-join halves the remaining path
       to the component minimum.

    Step 1 alone converges in diameter rounds (the round-1 shape); step 2
    doubles the label's reach each round, so pathological chain graphs --
    exactly the case ``max_iter`` used to bound -- finish in
    O(log diameter) rounds (Shiloach-Vishkin style label doubling).  Each
    round is a bounded number of shuffles, ``localCheckpoint`` truncates
    the growing lineage, and the driver sees only the changed-count
    scalar.  The fixpoint (min doc_id per component) is unique, so the
    result is iteration-order independent; at cluster scale, swap
    ``localCheckpoint`` for reliable checkpointing.

    Like the k-means Lloyd loop (``similarity.kmeans_train``), the loop
    pins AQE off and a small shuffle-partition count WHEN THE PAIR GRAPH
    IS SMALL (< 1M edges; the count is free -- callers checkpoint the
    edge relation): per-round wall time on a near-dup graph is dominated
    by re-planning and task overhead on few-row shuffles, not by data
    (A/B at sf0.1: dedup_clusters ~6.3 -> ~4.5 s warm).  A big graph
    keeps the session's settings -- the threshold, not the pin, is what
    scales.  NOTE the pin is SESSION conf for the loop's duration (set
    and restored by ``shuffle_guard``) and so assumes the single-controller
    execution model this engine uses throughout -- a host application
    planning unrelated queries on the same session from another thread
    during the loop would see the pinned settings; isolate with a
    ``spark.newSession()`` there (same SparkContext, separate conf).
    """
    spark = edges.sparkSession
    both = edges.select("doc_a", "doc_b").unionByName(
        edges.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    pin = edges.count() < 1_000_000
    with shuffle_guard(spark) if pin else nullcontext():
        return _cc_loop(both, max_iter)


def _cc_loop(both: DataFrame, max_iter: int) -> tuple[DataFrame, int]:
    labels = _iter_checkpoint(
        both.select(F.col("doc_a").alias("doc_id")).distinct()
        .withColumn("cluster_id", F.col("doc_id"))
    )
    prev_sum = None
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        nmin = (
            both.join(labels, both.doc_b == labels.doc_id)
            .groupBy("doc_a").agg(F.min("cluster_id").alias("nmin"))
        )
        stepped = (
            labels.join(nmin, labels.doc_id == nmin.doc_a, "left")
            .select(
                labels.doc_id,
                F.least(
                    F.col("cluster_id"), F.coalesce("nmin", F.col("cluster_id"))
                ).alias("cluster_id"),
            )
        )
        # pointer jump: label(v) <- label(label(v)); labels are node ids,
        # so the parent's (possibly smaller) label short-cuts the path
        parents = stepped.select(
            F.col("doc_id").alias("p_id"), F.col("cluster_id").alias("p_label")
        )
        new = _iter_checkpoint(
            stepped.join(parents, stepped.cluster_id == parents.p_id, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"),
                    F.coalesce("p_label", F.col("cluster_id")),
                ).alias("cluster_id"),
            )
        )
        # convergence probe: labels only ever DECREASE (every update is a
        # least()), so the label sum strictly decreases iff any node
        # changed -- one scalar agg over the materialized checkpoint
        # instead of a self-join + count per round.  decimal(38,0) keeps
        # the sum exact at any node count / id magnitude.
        new_sum = new.agg(
            F.sum(F.col("cluster_id").cast("decimal(38,0)")).alias("s")
        ).first()["s"]
        labels = new
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels, rounds


def dedup_clusters(
    docs: DataFrame,
    threshold: float = 0.25,
    n_hashes: int = N_MINHASH,
    bands: int = LSH_BANDS,
    hash_mode: str = "md5",
    max_iter: int = 25,
) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components of the verified pair
    graph, cluster id = min doc_id in the component (the survivor a dedup
    pass keeps).  Pairs alone under-specify dedup -- A~B and B~C must
    collapse to ONE survivor even when A~C was never a candidate pair.
    Components come from :func:`connected_components` (pointer-jumping
    min-label propagation, O(log diameter) rounds); the transitive-closure
    recursive-CTE oracle checks the result exactly.
    """
    # the verified pairs come from the session-scoped shared artifact
    # (already checkpointed there): the union's two branches read the
    # materialized relation instead of each executing the whole minhash
    # pipeline, and keep_best/source_matrix/pairs reuse the same one
    from pyspark.sql import Window

    pairs = verified_pairs_cached(
        docs, threshold, n_hashes, bands, hash_mode
    ).select("doc_a", "doc_b")
    labels, _ = connected_components(pairs, max_iter)
    # cluster size as one partitioned window over the (pair-graph-sized)
    # label relation: one exchange instead of groupBy + join-back
    w = Window.partitionBy("cluster_id")
    return labels.select(
        "doc_id",
        "cluster_id",
        F.count(F.lit(1)).over(w).alias("cluster_size"),
    )


def dedup_keep_best(
    docs: DataFrame,
    threshold: float = 0.25,
    n_hashes: int = N_MINHASH,
    bands: int = LSH_BANDS,
    hash_mode: str = "md5",
    max_iter: int = 25,
) -> DataFrame:
    """The dedup pass a curation pipeline actually ships: cluster
    near-dups (:func:`dedup_clusters`) and keep ONE survivor per cluster
    -- the LONGEST document (``n_chars`` DESC, ``doc_id`` ASC on ties),
    the keep-best policy of RefinedWeb/FineWeb-style pipelines (longest
    member usually subsumes its truncated copies).  Documents in no
    near-dup pair survive as their own singleton cluster.

    Plan: the cluster relation is pair-graph-sized (tiny vs the corpus);
    the corpus joins it once (left) and the survivor pick is a
    per-cluster row_number -- partitioned window, bounded state.  Output:
    (cluster_id, survivor_doc_id, cluster_size, n_chars), one row per
    post-dedup document.
    """
    from pyspark.sql import Window

    clusters = dedup_clusters(
        docs, threshold, n_hashes, bands, hash_mode, max_iter
    )
    labeled = (
        docs.select("doc_id", "n_chars")
        .join(clusters, "doc_id", "left")
        .select(
            "doc_id",
            "n_chars",
            F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
            F.coalesce("cluster_size", F.lit(1)).alias("cluster_size"),
        )
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        labeled.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("survivor_doc_id"),
            "cluster_size",
            "n_chars",
        )
    )


def dedup_source_matrix(
    docs: DataFrame,
    threshold: float = 0.25,
    key: str = "source",
    n_hashes: int = N_MINHASH,
    bands: int = LSH_BANDS,
    hash_mode: str = "md5",
) -> DataFrame:
    """Cross-source contamination matrix: verified near-dup pair counts
    per unordered ``(source, source)`` pair -- the report that tells a
    corpus owner WHICH sources are copying each other (mirrors, scrapes
    of the same upstream, benchmark leakage between splits) before any
    per-pair drilldown.  Diagonal rows are within-source duplication.

    Plan: the pair relation is LSH-blocked (never all-pairs); attaching
    sources is two joins against a (doc_id, source) projection, and the
    matrix is one #sources^2-bounded aggregation.  Source labels
    normalize to (least, greatest) so each unordered pair is one row.
    """
    pairs = verified_pairs_cached(
        docs, threshold, n_hashes, bands, hash_mode
    ).select("doc_a", "doc_b")
    s = docs.select("doc_id", F.col(key))
    sa = s.select(
        F.col("doc_id").alias("doc_a"), F.col(key).alias("__src_a")
    )
    sb = s.select(
        F.col("doc_id").alias("doc_b"), F.col(key).alias("__src_b")
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .groupBy(
            F.least("__src_a", "__src_b").alias("src_lo"),
            F.greatest("__src_a", "__src_b").alias("src_hi"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def line_dedup(docs: DataFrame, width: int = 10, text: str = "text") -> DataFrame:
    """Segment-level exact dedup (the CCNet/RefinedWeb paragraph-dedup
    shape, Wenzek et al. 2020 §3.1): split each document into
    consecutive ``width``-word segments, drop every repetition of a
    segment already seen anywhere in the corpus (first occurrence by
    ``(doc_id, seg_idx)`` wins), and reassemble what survives.  This
    removes boilerplate that whole-document dedup can't touch -- headers,
    navigation, license blocks -- which in web corpora is most of the
    duplicated volume.

    Plan shape: segmentation is generate-side (sequence + slice from the
    doc's own word array, no shuffle) and MATERIALIZES ONCE -- first-seen
    is a row_number window over the segment hash (one exchange + sort),
    not the min-agg + self-join form, whose aggregate and probe sides
    carry different projections and therefore CANNOT share an exchange
    (the agg+join plan re-ran the whole segmentation twice; A/B at
    sf0.1: 2.6 s -> ~1.5 s warm, values identical).  ``n_segs`` needs no
    second pass at all -- it is a pure expression over the doc's own
    word count.  Reassembly is one groupBy(doc_id) with an ordered
    collect bounded by the doc's own segment count.  Two keyed shuffles
    total at any corpus size.  Hash collisions merge distinct segments
    (the standard CCNet tradeoff; 60 bits keeps the expected collision
    count negligible below ~10^8 distinct segments -- swap in the full
    md5 for more).

    Output: (doc_id, n_segs, n_kept, text_dedup); a fully-duplicated
    document survives as an empty string with n_kept = 0.
    """
    base = fan_out(docs).select(
        "doc_id", tokens(text).alias("w")
    ).filter(F.size("w") >= 1)
    starts = F.sequence(
        F.lit(0).cast("long"),
        ((F.size("w") - 1) / width).cast("long"),
    )
    segs = base.select(
        "doc_id",
        F.explode(
            F.transform(
                starts,
                lambda i: F.struct(
                    i.alias("seg_idx"),
                    F.array_join(
                        F.slice(F.col("w"), i.cast("int") * width + 1, width),
                        " ",
                    ).alias("seg"),
                ),
            )
        ).alias("s"),
    ).select("doc_id", F.col("s.seg_idx").alias("seg_idx"), F.col("s.seg").alias("seg"))
    from pyspark.sql import Window

    keyed = segs.withColumn("h", stable_hash60(F.col("seg")))
    w_first = Window.partitionBy("h").orderBy("doc_id", "seg_idx")
    kept = (
        keyed.withColumn("__rn", F.row_number().over(w_first))
        .filter(F.col("__rn") == 1)
        .select("doc_id", "seg_idx", "seg")
    )
    # n_segs = size(starts): the same expression segmentation explodes,
    # evaluated narrow -- no groupBy over the exploded segments
    tot = base.select(
        "doc_id",
        (((F.size("w") - 1) / width).cast("long") + 1).alias("n_segs"),
    )
    re_docs = (
        kept.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("seg_idx", "seg"))).alias("ks"))
        .select(
            "doc_id",
            F.size("ks").cast("long").alias("n_kept"),
            F.array_join(
                F.transform(F.col("ks"), lambda s: s["seg"]), " "
            ).alias("text_dedup"),
        )
    )
    return (
        tot.join(re_docs, "doc_id", "left")
        .select(
            "doc_id",
            "n_segs",
            F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
            F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
        )
    )


def sql_line_dedup(src: str = "documents", width: int = 10) -> str:
    """DuckDB twin of :func:`line_dedup` (same segmentation, hash, and
    first-seen rule; ROW_NUMBER replaces the min-struct idiom)."""
    return f"""
        WITH base AS (SELECT doc_id, {sql_tokens('text')} AS w FROM {src}),
        seg AS (SELECT doc_id, CAST(t.i AS BIGINT) AS seg_idx,
                       array_to_string(
                           w[t.i * {width} + 1 : t.i * {width} + {width}],
                           ' ') AS seg
                FROM base,
                     unnest(generate_series(
                         0, CAST((len(w) - 1) // {width} AS BIGINT))) AS t(i)
                WHERE len(w) >= 1),
        keyed AS (SELECT doc_id, seg_idx, seg,
                         {sql_stable_hash60('seg')} AS h
                  FROM seg),
        kept AS (SELECT doc_id, seg_idx, seg FROM (
                     SELECT *, ROW_NUMBER() OVER (
                         PARTITION BY h ORDER BY doc_id, seg_idx) AS rnk
                     FROM keyed)
                 WHERE rnk = 1),
        tot AS (SELECT doc_id, COUNT(*) AS n_segs FROM seg GROUP BY doc_id),
        re AS (SELECT doc_id, COUNT(*) AS n_kept,
                      string_agg(seg, ' ' ORDER BY seg_idx) AS text_dedup
               FROM kept GROUP BY doc_id)
        SELECT t.doc_id, t.n_segs, COALESCE(r.n_kept, 0) AS n_kept,
               COALESCE(r.text_dedup, '') AS text_dedup
        FROM tot t LEFT JOIN re r USING (doc_id)
    """


def _winnowed_grams(
    docs: DataFrame, n: int = 20, w: int = 8, text: str = "text"
) -> DataFrame:
    """(doc_id, pos, gram): the winnowing-selected length-``n`` char
    grams of each document, with their 1-based positions -- the shared
    front half of :func:`substring_dups` (gram statistics) and
    :func:`substring_dup_spans` (verified span extraction).  All
    selection is generate-side array expressions; zero shuffles."""
    base = fan_out(docs.select("doc_id", F.col(text).alias("__t")))
    t = F.col("__t")
    pos = F.sequence(
        F.lit(1), F.greatest(F.length(t) - n + 1, F.lit(0))
    )
    grams = F.transform(pos, lambda p: t.substr(p, F.lit(n)))
    h = F.transform(grams, stable_hash60)
    arr = base.filter(F.length(t) >= n).select(
        "doc_id", grams.alias("grams"), h.alias("h")
    )
    # guard: Spark sequence(a, b) DESCENDS when a > b, so short docs
    # need an explicit empty-ends case
    ends = F.when(
        F.size("h") >= w, F.sequence(F.lit(w), F.size("h"))
    ).otherwise(F.array().cast("array<int>"))

    def rightmost_min(e):
        # rightmost index of the window minimum, via native array ops:
        # first occurrence in the REVERSED slice is the rightmost in the
        # original (measured 3.4x faster than a sequence+filter lambda,
        # which interprets per element; selection proven identical)
        sl = F.reverse(F.slice("h", e - w + 1, w))
        return e - (F.array_position(sl, F.array_min(sl)) - 1)

    selected = F.array_distinct(F.transform(ends, rightmost_min))
    # project (pos, gram) INSIDE the array before exploding: exploding
    # the index alone would replicate the full per-doc grams array once
    # per selected row (~80x the corpus in materialized columns)
    sel_structs = F.transform(
        selected,
        lambda j: F.struct(
            j.cast("long").alias("pos"),
            F.element_at("grams", j.cast("int")).alias("gram"),
        ),
    )
    return (
        arr.select("doc_id", F.explode(sel_structs).alias("s"))
        .select("doc_id", F.col("s.pos").alias("pos"), F.col("s.gram").alias("gram"))
    )


def substring_dups(
    docs: DataFrame, n: int = 20, w: int = 8, text: str = "text"
) -> DataFrame:
    """Character-level exact-substring duplication via WINNOWED
    fingerprints (Schleimer, Wilkerson & Aiken 2003, the MOSS
    algorithm), the bounded-cost core of Lee et al. 2022's
    suffix-array dedup ("Deduplicating Training Data Makes Language
    Models Better"): repeated character spans (boilerplate, licenses,
    quoted passages) that word-level shingling misses across
    tokenization boundaries.

    Per document, every length-``n`` char gram is hashed, and from each
    window of ``w`` consecutive grams the RIGHTMOST minimal hash is
    selected — selection is a function of CONTENT, not position, so two
    copies of a span select the same grams regardless of alignment
    (naive strided sampling fails exactly here: copies offset by
    k mod stride share no sampled positions).  Winnowing guarantee:
    any shared span covering a full window (length >= n + w - 1 chars)
    is detected with certainty; expected density is 2/(w+1) grams per
    position.

    All selection happens generate-side in array expressions (zero
    pre-shuffle movement); the ONE shuffle groups selected grams
    corpus-wide.  Returns duplicated grams: (gram, n_occurrences,
    n_docs, first_doc_id, first_pos) — first_* is the lexicographic-min
    exemplar, so every output column is primitive/hashable.
    """
    picked = _winnowed_grams(docs, n, w, text)
    return (
        picked.groupBy("gram")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min(F.struct("doc_id", "pos")).alias("__first"),
        )
        .filter(F.col("n_occurrences") >= 2)
        .select(
            "gram",
            "n_occurrences",
            "n_docs",
            F.col("__first.doc_id").alias("first_doc_id"),
            F.col("__first.pos").alias("first_pos"),
        )
    )


def substring_dup_spans(
    docs: DataFrame,
    n: int = 20,
    w: int = 8,
    max_occurrences: int = 50,
    text: str = "text",
) -> DataFrame:
    """EXACT cross-document duplicated SPANS (r6 verdict item 8; the
    Lee et al. 2022 "Deduplicating Training Data" ExactSubstr shape,
    bounded by winnowing instead of a suffix array): for every document
    pair sharing winnow-selected grams, merge the matches into maximal
    VERIFIED spans of literal character equality.

    Exactness: candidates block on the selected gram's TEXT (the hash
    only drives selection), so every match is a certified n-char
    equality, and two matches on the same pair at the same diagonal
    (``pos_b - pos_a``) whose gram intervals overlap or adjoin certify
    the union span char-for-char.  Winnowing guarantees any shared span
    of length >= n + w - 1 selects at least one common gram in both
    copies, so every such span yields a reported span; edges may be
    understated by up to n + w - 2 chars (the suffix array recovers the
    exact boundary -- the reported span is a certified lower bound, a
    documented tradeoff for O(corpus) cost).

    Plan: selection is generate-side (:func:`_winnowed_grams`, zero
    shuffles); grams occurring more than ``max_occurrences`` times are
    dropped BEFORE the self-join (the boilerplate skew cap -- bucket
    cost is sum of occurrences^2; capped grams are exactly the ones
    carrying no pairwise signal, same tradeoff as the shared-shingle
    ``max_doc_ratio``); the self-join shuffles on the gram; the island
    merge is one window + one aggregation over (doc_a, doc_b, diagonal)
    -- pair-output-sized, never corpus-sized.

    Output: (doc_a, doc_b, pos_a, pos_b, span_len, n_grams), one row
    per maximal verified span, span_len >= n.
    """
    from pyspark.sql import Window

    # ONE structural evaluation of the winnowed-fingerprint pipeline
    # (guide §2.4): the former shape repartitioned on the gram and
    # relied on AQE runtime stage reuse to share that exchange between
    # the hot-gram aggregate and BOTH self-join sides -- the r11 verdict
    # found the reuse unproven (static plan showed 3 consumers) and the
    # query flat-to-worse at low parallelism.  Grouping each gram's
    # occurrence list once and exploding the within-gram pairs with
    # array expressions makes the single evaluation STRUCTURAL: one
    # exchange for the whole gram phase, no self-join, no anti-join.
    # Pair multiset is identical: the old a x b join on the gram kept
    # every row pair with doc_a < doc_b; the nested transform emits
    # exactly those element pairs, and the eligibility filter
    # 2 <= occurrences <= max_occurrences reproduces the old hot-gram
    # cap (count per gram) plus the no-pair singles.  Cell cost is
    # bounded by max_occurrences^2 pairs per gram -- the same cap that
    # bounded the old join's bucket.  The cap filters on a windowed
    # per-gram count BEFORE collect_list, so a boilerplate gram never
    # builds its occurrence array in one aggregation buffer (the window
    # buffer spills); the groupBy reuses the window's gram partitioning.
    n_occ = F.count(F.lit(1)).over(Window.partitionBy("gram"))
    occ = (
        _winnowed_grams(docs, n, w, text)
        .withColumn("__n_occ", n_occ)
        .filter(
            (F.col("__n_occ") >= 2) & (F.col("__n_occ") <= max_occurrences)
        )
        .groupBy("gram")
        .agg(F.collect_list(F.struct("doc_id", "pos")).alias("os"))
    )
    pairs = F.flatten(
        F.transform(
            F.col("os"),
            lambda x: F.transform(
                F.filter(F.col("os"), lambda y: y["doc_id"] > x["doc_id"]),
                lambda y: F.struct(
                    x["doc_id"].alias("doc_a"),
                    y["doc_id"].alias("doc_b"),
                    x["pos"].alias("pos_a"),
                    (y["pos"] - x["pos"]).alias("k"),
                ),
            ),
        )
    )
    matches = occ.select(F.explode(pairs).alias("p")).select(
        "p.doc_a", "p.doc_b", "p.pos_a", "p.k"
    )
    wk = Window.partitionBy("doc_a", "doc_b", "k").orderBy("pos_a")
    prev_max_end = F.max(F.col("pos_a") + F.lit(n - 1)).over(
        wk.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = matches.withColumn(
        "new_island",
        F.when(
            prev_max_end.isNull() | (F.col("pos_a") > prev_max_end + 1), 1
        ).otherwise(0),
    )
    islands = flagged.withColumn(
        "island", F.sum("new_island").over(wk).cast("long")
    )
    return (
        islands.groupBy("doc_a", "doc_b", "k", "island")
        .agg(
            F.min("pos_a").alias("pos_a"),
            (F.max("pos_a") + F.lit(n - 1)).alias("__end"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .select(
            "doc_a",
            "doc_b",
            "pos_a",
            (F.col("pos_a") + F.col("k")).alias("pos_b"),
            (F.col("__end") - F.col("pos_a") + 1).alias("span_len"),
            "n_grams",
        )
    )


def substring_dedup_apply(
    docs: DataFrame,
    n: int = 20,
    w: int = 8,
    max_occurrences: int = 50,
    text: str = "text",
) -> DataFrame:
    """APPLY exact substring dedup: cut every verified duplicated span
    from its LATER copy (first occurrence by doc_id wins) and reassemble
    the documents -- the transform half of Lee et al. 2022's ExactSubstr
    (:func:`substring_dup_spans` is the detection half; this is what a
    pipeline actually ships).

    Semantics: every span reported for a pair is removed from the
    ``doc_b`` side only; a document's removal intervals from ALL its
    pairs are merged (overlap/adjacency islands), and the kept text is
    the concatenation of the complement segments.  Chains behave as
    first-wins: for copies in docs A < B < C, A keeps the span, B and C
    each lose their copy.

    Plan: the span relation is pair-graph-sized; the per-doc interval
    merge is one window + one aggregation over it; the cut itself is a
    narrow ``zip_with`` over each doc's own merged-interval array after
    one broadcast-sized join back to the corpus.  Output (all docs):
    (doc_id, n_spans_removed, n_chars_removed, text_dedup).
    """
    from pyspark.sql import Window

    spans = substring_dup_spans(docs, n, w, max_occurrences, text)
    # DISTINCT is load-bearing, not an optimization: duplicate (s, e)
    # rows (the same doc_b region matched from several doc_a partners)
    # leave the (s, e) window ordering TIED, and an engine that sorts
    # the flag pass and the island-sum pass in separate operators
    # (DuckDB) can order the ties differently between them -- splitting
    # one duplicate row's island and double-counting its chars.  With
    # distinct rows the ordering is total and both engines agree
    # bit-for-bit (found as a 4-in-5000-docs nondeterministic oracle
    # flake at sf0.1).
    rm = spans.select(
        F.col("doc_b").alias("doc_id"),
        F.col("pos_b").alias("s"),
        (F.col("pos_b") + F.col("span_len") - 1).alias("e"),
    ).distinct()
    wd = Window.partitionBy("doc_id").orderBy("s", "e")
    prev_max_e = F.max("e").over(
        wd.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = rm.withColumn(
        "new_island",
        F.when(prev_max_e.isNull() | (F.col("s") > prev_max_e + 1), 1)
        .otherwise(0),
    )
    merged = (
        flagged.withColumn("island", F.sum("new_island").over(wd))
        .groupBy("doc_id", "island")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
        .groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("s", "e"))).alias("iv"),
        )
    )
    t = F.col(text)
    # kept segments: gaps between consecutive removal intervals --
    # ends [0, e_1..e_k] zipped with next starts [s_1..s_k, len+1]
    ends = F.concat(
        F.array(F.lit(0).cast("long")),
        F.transform(F.col("iv"), lambda x: x["e"]),
    )
    starts = F.concat(
        F.transform(F.col("iv"), lambda x: x["s"]),
        F.array((F.length(t) + 1).cast("long")),
    )
    cut = F.array_join(
        F.zip_with(
            ends,
            starts,
            lambda e, s: t.substr(
                (e + 1).cast("int"), (s - e - 1).cast("int")
            ),
        ),
        "",
    )
    return (
        docs.join(merged, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.size("iv"), F.lit(0)).cast("long")
            .alias("n_spans_removed"),
            F.coalesce(
                F.aggregate(
                    F.col("iv"),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + (x["e"] - x["s"] + 1),
                ),
                F.lit(0).cast("long"),
            ).alias("n_chars_removed"),
            F.when(F.col("iv").isNull(), t).otherwise(cut)
            .alias("text_dedup"),
        )
    )


def sql_substring_dedup_apply(
    src: str = "documents", n: int = 20, w: int = 8, max_occurrences: int = 50
) -> str:
    """DuckDB twin of :func:`substring_dedup_apply` (same span relation,
    same first-wins removal, same island merge and complement cut)."""
    spans = sql_substring_dup_spans(src, n, w, max_occurrences)
    return f"""
        WITH spans AS ({spans}),
        rm AS (SELECT DISTINCT doc_b AS doc_id, pos_b AS s,
                      pos_b + span_len - 1 AS e
               FROM spans),
        flagged AS (
            SELECT *, CASE WHEN prev_e IS NULL OR s > prev_e + 1
                           THEN 1 ELSE 0 END AS new_island
            FROM (SELECT *, MAX(e) OVER (
                                PARTITION BY doc_id ORDER BY s, e
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING) AS prev_e
                  FROM rm)),
        isl AS (SELECT *, SUM(new_island) OVER (
                              PARTITION BY doc_id ORDER BY s, e
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS island
                FROM flagged),
        mg AS (SELECT doc_id, island, MIN(s) AS s, MAX(e) AS e
               FROM isl GROUP BY doc_id, island),
        iv AS (SELECT doc_id,
                      list_sort(list(ROW(s, e))) AS iv,
                      CAST(COUNT(*) AS BIGINT) AS n_spans,
                      CAST(SUM(e - s + 1) AS BIGINT) AS n_chars
               FROM mg GROUP BY doc_id)
        SELECT d.doc_id,
               COALESCE(iv.n_spans, 0) AS n_spans_removed,
               COALESCE(iv.n_chars, 0) AS n_chars_removed,
               CASE WHEN iv.iv IS NULL THEN d.text
                    ELSE array_to_string(
                        list_transform(
                            list_zip(
                                list_concat([CAST(0 AS BIGINT)],
                                            list_transform(iv.iv,
                                                           x -> x[2])),
                                list_concat(list_transform(iv.iv,
                                                           x -> x[1]),
                                            [CAST(len(d.text) + 1
                                                  AS BIGINT)])),
                            p -> substr(d.text,
                                        CAST(p[1] + 1 AS INT),
                                        CAST(p[2] - p[1] - 1 AS INT))),
                        '')
               END AS text_dedup
        FROM {src} d LEFT JOIN iv USING (doc_id)
    """


def sql_substring_dup_spans(
    src: str = "documents", n: int = 20, w: int = 8, max_occurrences: int = 50
) -> str:
    """DuckDB twin of :func:`substring_dup_spans` (same winnowed
    selection, occurrence cap, diagonal island merge)."""
    return f"""
        WITH base AS (SELECT doc_id, text AS t FROM {src}
                      WHERE len(text) >= {n}),
        arr AS (
            SELECT doc_id,
                   list_transform(generate_series(1, len(t) - {n} + 1),
                                  p -> substr(t, p, {n})) AS grams
            FROM base),
        harr AS (
            SELECT doc_id, grams,
                   list_transform(grams,
                       g -> {sql_stable_hash60('g')})
                       AS h
            FROM arr),
        sel AS (
            SELECT doc_id, grams,
                   list_distinct(list_transform(
                       generate_series({w}, len(h)),
                       e -> list_max(list_filter(
                                generate_series(e - {w} + 1, e),
                                j -> h[j] = list_min(h[e - {w} + 1 : e])))))
                       AS js
            FROM harr),
        g AS (
            SELECT doc_id, CAST(unnest(js) AS BIGINT) AS pos, grams
            FROM sel),
        picked AS (SELECT doc_id, pos, grams[pos] AS gram FROM g),
        hot AS (SELECT gram FROM picked GROUP BY gram
                HAVING COUNT(*) > {max_occurrences}),
        pk AS (SELECT * FROM picked
               WHERE gram NOT IN (SELECT gram FROM hot)),
        m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     a.pos AS pos_a, b.pos - a.pos AS k
              FROM pk a JOIN pk b
                ON a.gram = b.gram AND a.doc_id < b.doc_id),
        flagged AS (
            SELECT *, CASE WHEN prev_end IS NULL
                             OR pos_a > prev_end + 1 THEN 1 ELSE 0 END
                          AS new_island
            FROM (SELECT *, MAX(pos_a + {n} - 1) OVER (
                                PARTITION BY doc_a, doc_b, k ORDER BY pos_a
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING) AS prev_end
                  FROM m)),
        isl AS (
            SELECT *, SUM(new_island) OVER (
                          PARTITION BY doc_a, doc_b, k ORDER BY pos_a
                          ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS island
            FROM flagged)
        SELECT doc_a, doc_b, MIN(pos_a) AS pos_a,
               MIN(pos_a) + k AS pos_b,
               MAX(pos_a) + {n} - 1 - MIN(pos_a) + 1 AS span_len,
               COUNT(*) AS n_grams
        FROM isl
        GROUP BY doc_a, doc_b, k, island
    """


def sql_substring_dups(src: str = "documents", n: int = 20, w: int = 8) -> str:
    """DuckDB twin of :func:`substring_dups` (same winnowed selection;
    DuckDB lambdas/list slices are 1-based inclusive, matching the
    1-based gram positions used on the Spark side)."""
    return f"""
        WITH base AS (SELECT doc_id, text AS t FROM {src}
                      WHERE len(text) >= {n}),
        arr AS (
            SELECT doc_id,
                   list_transform(generate_series(1, len(t) - {n} + 1),
                                  p -> substr(t, p, {n})) AS grams
            FROM base),
        harr AS (
            SELECT doc_id, grams,
                   list_transform(grams,
                       g -> {sql_stable_hash60('g')})
                       AS h
            FROM arr),
        sel AS (
            SELECT doc_id, grams,
                   list_distinct(list_transform(
                       generate_series({w}, len(h)),
                       e -> list_max(list_filter(
                                generate_series(e - {w} + 1, e),
                                j -> h[j] = list_min(h[e - {w} + 1 : e])))))
                       AS js
            FROM harr),
        g AS (
            SELECT doc_id, CAST(unnest(js) AS BIGINT) AS pos, grams
            FROM sel),
        picked AS (SELECT doc_id, pos, grams[pos] AS gram FROM g),
        agg AS (
            SELECT gram, COUNT(*) AS n_occurrences,
                   CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
                   MIN(doc_id) AS first_doc_id
            FROM picked GROUP BY gram HAVING COUNT(*) >= 2),
        firstpos AS (
            SELECT gram, doc_id, CAST(MIN(pos) AS BIGINT) AS pos
            FROM picked GROUP BY gram, doc_id)
        SELECT a.gram, a.n_occurrences, a.n_docs, a.first_doc_id,
               f.pos AS first_pos
        FROM agg a
        JOIN firstpos f ON f.gram = a.gram AND f.doc_id = a.first_doc_id
    """


def tfidf_cosine_pairs(
    docs: DataFrame,
    tau: float = 0.6,
    max_df_ratio: float = 0.5,
    text: str = "text",
) -> DataFrame:
    """Sparse tf-idf cosine near-dup pairs: documents as tf-idf vectors
    over a df-capped vocabulary, pairs with cosine >= ``tau`` -- the
    bag-of-words similarity family's member BETWEEN exact Jaccard
    (:func:`ngram_jaccard` -- set-valued, order-blind) and embeddings
    (:func:`~.similarity.semdedup` -- dense, model-dependent): term
    FREQUENCY matters, rare terms dominate, no model needed.

    The df cap is part of the DEFINITION, not an approximation: terms
    in more than ``max_df_ratio`` of documents are dropped from the
    representation (sklearn's ``max_df``), which simultaneously (a)
    removes stopword mass that carries no similarity signal and (b) IS
    the skew cap -- the postings self-join fans out quadratically per
    term, and the dropped head terms are exactly the quadratic ones
    (the max_doc_ratio lesson from the shingle join).

    Exactness: weights are floor-quantized BIGINTs
    ``floor(tf * (N - df + 0.5)/(df + 0.5))`` (the bm25 ratio-idf
    dialect -- log-free), so dot products and squared norms are
    order-free integer sums; cosine is then two exactly-rounded IEEE
    sqrt/divides.  Pairs where every shared term floors to weight 0
    score cosine 0 and fall out at any positive tau.

    Plan: one token-explode agg -> (doc, term, w) postings; df relation
    is vocab-sized and broadcast; the self-join shuffles postings ONCE
    on the term key; norms join pair-graph-sized output.  Output:
    (doc_a, doc_b, dot, cosine) for pairs with cosine >= tau.
    """
    from .text_analysis import tf_postings_cached

    tf = tf_postings_cached(docs, text)
    stats = tf.agg(
        F.count_distinct("doc_id").alias("n_docs")
    )
    df_t = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    w_q = F.floor(
        F.col("tf").cast("double")
        * ((F.col("n_docs").cast("double") - F.col("df").cast("double")
            + F.lit(0.5))
           / (F.col("df").cast("double") + F.lit(0.5)))
    ).cast("long")
    posts = (
        tf.join(F.broadcast(df_t), "tok")
        .crossJoin(F.broadcast(stats))
        .filter(
            F.col("df").cast("double")
            <= F.lit(max_df_ratio) * F.col("n_docs").cast("double")
        )
        .select("doc_id", "tok", w_q.alias("w"))
        .filter(F.col("w") > 0)
        # posts feeds FOUR consumers (two self-join sides + two norm
        # joins); materialize once instead of re-running the
        # token-explode aggregation per side (the checkpointed-candidates
        # pattern from minhash_dedup_pairs) -- 23 -> 8 exchanges
        .localCheckpoint(eager=True)
    )
    n2 = posts.groupBy("doc_id").agg(
        F.sum(F.col("w") * F.col("w")).alias("n2")
    )
    a = posts.select(
        F.col("doc_id").alias("doc_a"), "tok", F.col("w").alias("wa")
    )
    b = posts.select(
        F.col("doc_id").alias("doc_b"), "tok", F.col("w").alias("wb")
    )
    dots = (
        a.join(b, "tok")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    cos = (
        (F.col("dot").cast("double")
         / F.sqrt(F.col("n2a").cast("double")))
        / F.sqrt(F.col("n2b").cast("double"))
    )
    return (
        dots.join(
            n2.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("n2a")),
            "doc_a",
        )
        .join(
            n2.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("n2b")),
            "doc_b",
        )
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= tau)
        .select("doc_a", "doc_b", "dot", "cosine")
    )


def sql_tfidf_cosine_pairs(
    tau: float = 0.6, max_df_ratio: float = 0.5, src: str = "documents"
) -> str:
    """DuckDB twin of :func:`tfidf_cosine_pairs`."""
    return f"""
        WITH toks AS (
            SELECT doc_id, unnest({sql_tokens('text')}) AS tok FROM {src}),
        tf AS (SELECT doc_id, tok, COUNT(*) AS tf
               FROM toks GROUP BY doc_id, tok),
        stats AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tf),
        df_t AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
        posts AS (
            SELECT tf.doc_id, tf.tok,
                   CAST(FLOOR(CAST(tf.tf AS DOUBLE)
                       * ((CAST(s.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE)
                           + 0.5)
                          / (CAST(d.df AS DOUBLE) + 0.5))) AS BIGINT) AS w
            FROM tf JOIN df_t d USING (tok) CROSS JOIN stats s
            WHERE CAST(d.df AS DOUBLE)
                  <= {max_df_ratio} * CAST(s.n_docs AS DOUBLE)),
        posts_nz AS (SELECT * FROM posts WHERE w > 0),
        n2 AS (SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS n2
               FROM posts_nz GROUP BY doc_id),
        dots AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(SUM(a.w * b.w) AS BIGINT) AS dot
            FROM posts_nz a JOIN posts_nz b USING (tok)
            WHERE a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id),
        scored AS (
            SELECT d.doc_a, d.doc_b, d.dot,
                   (CAST(d.dot AS DOUBLE) / SQRT(CAST(na.n2 AS DOUBLE)))
                       / SQRT(CAST(nb.n2 AS DOUBLE)) AS cosine
            FROM dots d
            JOIN n2 na ON na.doc_id = d.doc_a
            JOIN n2 nb ON nb.doc_id = d.doc_b)
        SELECT doc_a, doc_b, dot, cosine FROM scored WHERE cosine >= {tau}
    """


def intradoc_dedup(
    docs: DataFrame, width: int = 10, text: str = "text"
) -> DataFrame:
    """WITHIN-document repeated-segment removal: drop every repetition
    of a ``width``-word segment inside the SAME document (first
    occurrence wins) and reassemble -- the intra-page cleanup that runs
    before corpus-level :func:`line_dedup` in web-curation pipelines
    (repeated nav blocks / chrome inside one page; Gopher's repetition
    SIGNALS measure this, this operator REMOVES it).

    Plan: the entire operator is ONE narrow pass -- segmentation,
    first-occurrence filter, and reassembly are array expressions over
    each document's own tokens (the filter's seen-set is the segment
    array's own prefix: position-in-prefix == 0).  Zero shuffles, zero
    joins, zero state at ANY corpus size; per-doc cost is O(segs^2)
    with segs = words/width, bounded by page length, not corpus size.

    Output: (doc_id, n_segs, n_kept, text_dedup).
    """
    base = fan_out(docs).select("doc_id", tokens(text).alias("w"))
    starts = F.sequence(
        F.lit(0).cast("long"), ((F.size("w") - 1) / width).cast("long")
    )
    segs = F.transform(
        starts,
        lambda i: F.array_join(
            F.slice(F.col("w"), i.cast("int") * width + 1, width), " "
        ),
    )
    kept = F.filter(
        F.col("segs"),
        lambda s, i: F.array_position(F.slice(F.col("segs"), 1, i), s) == 0,
    )
    return base.select("doc_id", segs.alias("segs")).select(
        "doc_id",
        F.size("segs").cast("long").alias("n_segs"),
        F.size(kept).cast("long").alias("n_kept"),
        F.array_join(kept, " ").alias("text_dedup"),
    )


def sql_intradoc_dedup(src: str = "documents", width: int = 10) -> str:
    """DuckDB twin of :func:`intradoc_dedup` (the window-min form of the
    same first-occurrence rule; per-doc partitioning makes it exact)."""
    return f"""
        WITH base AS (SELECT doc_id, {sql_tokens('text')} AS w FROM {src}),
        seg AS (SELECT doc_id, CAST(t.i AS BIGINT) AS seg_idx,
                       array_to_string(
                           w[t.i * {width} + 1 : t.i * {width} + {width}],
                           ' ') AS seg
                FROM base,
                     unnest(generate_series(
                         0, CAST((len(w) - 1) // {width} AS BIGINT))) AS t(i)),
        first AS (SELECT doc_id, seg_idx, seg,
                         MIN(seg_idx) OVER (PARTITION BY doc_id, seg)
                             AS first_idx
                  FROM seg),
        tot AS (SELECT doc_id, COUNT(*) AS n_segs FROM seg GROUP BY doc_id),
        re AS (SELECT doc_id, COUNT(*) AS n_kept,
                      string_agg(seg, ' ' ORDER BY seg_idx) AS text_dedup
               FROM first WHERE seg_idx = first_idx GROUP BY doc_id)
        SELECT t.doc_id, t.n_segs, r.n_kept, r.text_dedup
        FROM tot t JOIN re r USING (doc_id)
    """
