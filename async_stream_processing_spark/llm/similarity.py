"""Similarity search over embedding columns (``array<float>``).

* :func:`cosine` -- exact cosine via a **sequential left fold** in double
  precision (``aggregate``/``zip_with``).  The fold order is part of the
  contract: DuckDB's ``list_reduce`` folds left too, so oracle results are
  bit-identical.  (The decimal-sum trick from ``functions.numeric`` does
  NOT apply to float inputs -- their doubles carry ~17 significant digits
  and Spark/DuckDB round double->decimal differently there.)
* :func:`knn_bruteforce` -- baseline top-k: broadcast the (small) query
  set against the corpus, one dot product per (query, candidate), window
  rank.  Linear scan; the right answer up to ~10^7 x 10^3 work units.
* :func:`lsh_buckets` / :func:`knn_lsh` -- the scale path: random-
  hyperplane LSH (Charikar 2002).  Hyperplane weights are deterministic
  integers ``((131*j + 137*d) % 19) - 9`` so the oracle can re-derive them;
  candidates are restricted to bucket-mates, turning O(N*Q) into
  O(N*Q / 2^planes) with recall tunable by ``n_planes`` / multi-probe.
  At 100 TB: bucket the corpus once (write bucketed parquet), then each
  query batch joins on ``bucket`` -- a co-partitioned join, no broadcast.
* :func:`recall_at_k` -- the one eval harness: any index's top-k against
  the exact top-k (computed once per session by
  :func:`knn_bruteforce_cached`).
* :func:`exact_rerank` -- the one exact second stage: cosine over a
  per-query shortlist from any cheap index, then top-k.

Each has one DuckDB twin (``sql_knn_bruteforce``, ``sql_recall_at_k``,
``sql_exact_rerank``); every ANN oracle is composed of these fragments.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..plans.scale import topk_by_group
from ..streaming.replay import shuffle_guard


def _as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def _fold_sum(arr: Column) -> Column:
    """Sequential left fold -- bit-equal to DuckDB list_reduce."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def dot(a: Column, b: Column) -> Column:
    return _fold_sum(F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y))


def norm(a: Column) -> Column:
    return F.sqrt(_fold_sum(F.transform(_as_double(a), lambda x: x * x)))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def sql_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}), "
        f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)"
    )


def sql_norm(a: str) -> str:
    return (
        f"sqrt(list_reduce(list_transform({a}, "
        f"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))"
    )


def sql_cosine(a: str, b: str) -> str:
    return f"({sql_dot(a, b)} / ({sql_norm(a)} * {sql_norm(b)}))"


def _query_side(
    embeddings: DataFrame, n_queries: int, *extra: Column
) -> DataFrame:
    """The first ``n_queries`` vectors as (query_id, q_emb, q_n, *extra).

    Norms are hoisted to one column per side: each (query, candidate)
    pair costs a dot and one multiply/divide, not two norm
    re-derivations.  ``dot/(q_n*c_n)`` is the expression tree
    :func:`cosine` builds, so :func:`_hoisted_cos` is bit-identical."""
    return embeddings.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        norm(F.col("embedding")).alias("q_n"),
        *extra,
    )


def _corpus_side(embeddings: DataFrame, *extra: Column) -> DataFrame:
    """Every vector as (neighbor_id, c_emb, c_n, *extra)."""
    return embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        norm(F.col("embedding")).alias("c_n"),
        *extra,
    )


def _hoisted_cos() -> Column:
    return dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_n") * F.col("c_n"))


def _cosine_topk(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k of scored (query, candidate) pairs, ties broken
    (cosine DESC, neighbor_id ASC).  Bounded (r8 verdict item 5):
    partial per-partition rank then merge, no corpus-sized exchange
    into n_queries partitions."""
    return topk_by_group(
        scored.withColumn("cos", _hoisted_cos()),
        ["query_id"], [F.desc("cos"), F.asc("neighbor_id")], k,
    )


def _sql_cosine_topk(scored: str, k: int) -> str:
    """Per-query top-k of a (query_id, neighbor_id, cosine) query, same
    tie rule as :func:`_cosine_topk`."""
    return f"""
        SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine
        FROM (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY query_id
                  ORDER BY cosine DESC, neighbor_id ASC) AS rank
              FROM ({scored}))
        WHERE rank <= {k}
    """


def knn_bruteforce(
    embeddings: DataFrame, n_queries: int = 10, k: int = 5
) -> DataFrame:
    """Exact top-k neighbors (cosine) for the first ``n_queries`` vectors.

    The query side is broadcast (it is small by construction); the corpus
    streams through one stage -- no shuffle of the corpus itself.
    """
    scored = _corpus_side(embeddings).join(
        F.broadcast(_query_side(embeddings, n_queries)),
        F.col("neighbor_id") != F.col("query_id"),
    )
    return _cosine_topk(scored, k).select(
        "query_id", "neighbor_id", "rank", F.col("cos").alias("cosine")
    )


def sql_knn_bruteforce(
    n_queries: int = 10, k: int = 5, src: str = "embeddings"
) -> str:
    """DuckDB twin of :func:`knn_bruteforce`: the one exact top-k
    fragment every ANN oracle ranks its ground truth with."""
    return _sql_cosine_topk(f"""
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               {sql_cosine('q.embedding', 'e.embedding')} AS cosine
        FROM {src} e
        CROSS JOIN (SELECT * FROM {src} WHERE vec_id < {n_queries}) q
        WHERE e.vec_id != q.vec_id""", k)


def knn_bruteforce_cached(
    embeddings: DataFrame, n_queries: int = 10, k: int = 5
) -> DataFrame:
    """The exact top-k ground truth as ONE session-scoped artifact
    (:func:`._cache.cached_artifact`): every recall eval on the ladder
    compares against the SAME (corpus, n_queries, k) exact search, and
    the artifact is n_queries*k rows, so every eval after the first
    reads a materialized relation -- a production eval harness computes
    ground truth once and writes it, for the same reason."""
    from ._cache import cached_artifact

    return cached_artifact(
        embeddings, (n_queries, k),
        lambda: knn_bruteforce(embeddings, n_queries=n_queries, k=k),
    )


def recall_at_k(
    embeddings: DataFrame, found: DataFrame, n_queries: int, k: int
) -> DataFrame:
    """Recall@k of any index's top-k ``found`` (query_id, neighbor_id,
    ...) against the exact cosine top-k of ``embeddings`` -- the one
    eval harness for every rung of the ANN ladder (LSH, 1-bit Hamming,
    SQ8, PQ, rotated PQ, IVF-PQ, Matryoshka prefix, rerank), so their
    recall rows are measured the same way ("measure, don't guess").

    Per query: how many of the true top-k neighbors ``found`` returned,
    and that count over k.  Ground truth is n_queries * k rows (tiny),
    so the left join broadcasts and the expensive side remains whatever
    the index search costs."""
    bf = knn_bruteforce_cached(embeddings, n_queries=n_queries, k=k).select(
        "query_id", "neighbor_id"
    )
    idx = found.select("query_id", F.col("neighbor_id").alias("got_id"))
    hits = (
        bf.join(
            idx,
            (bf["query_id"] == idx["query_id"])
            & (bf["neighbor_id"] == idx["got_id"]),
            "left",
        )
        .groupBy(bf["query_id"])
        .agg(F.count("got_id").alias("n_hits"))
    )
    return hits.select(
        "query_id",
        "n_hits",
        (F.col("n_hits").cast("double") / F.lit(float(k))).alias("recall"),
    )


def sql_recall_at_k(
    found_sql: str, n_queries: int, k: int, src: str = "embeddings"
) -> str:
    """DuckDB twin of :func:`recall_at_k` over any top-k query text."""
    return f"""
        WITH bf AS ({sql_knn_bruteforce(n_queries, k, src)}),
        idx AS ({found_sql})
        SELECT bf.query_id, COUNT(idx.neighbor_id) AS n_hits,
               CAST(COUNT(idx.neighbor_id) AS DOUBLE) / {float(k)} AS recall
        FROM bf LEFT JOIN idx
          ON idx.query_id = bf.query_id
         AND idx.neighbor_id = bf.neighbor_id
        GROUP BY bf.query_id
    """


def exact_rerank(
    embeddings: DataFrame, cand: DataFrame, n_queries: int, k: int
) -> DataFrame:
    """Exact cosine top-k over a per-query candidate shortlist ``cand``
    (query_id, neighbor_id, ...) -- the second stage of every
    shortlist-then-rerank pipeline (:func:`knn_refine`,
    :func:`knn_hamming_rerank`).  Float math touches only the
    shortlist, never the corpus.

    Plan: the shortlist (n_queries * R rows) broadcasts back onto the
    corpus scan, so the rerank reads only matching rows.  A candidate's
    norm is taken after that join (per shortlisted pair, not per corpus
    vector), the query norms are hoisted, and the top-k is ONE plain
    ``row_number`` window, the shape of :func:`_sql_cosine_topk`: its
    input is already bounded at n_queries * R rows, so the partial
    per-partition pass of :func:`_cosine_topk` (for corpus-sized
    inputs) would only add an exchange.  Output: (query_id,
    neighbor_id, rank, cosine)."""
    scored = (
        embeddings.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("c_emb"),
        )
        .join(F.broadcast(cand.select("query_id", "neighbor_id")),
              "neighbor_id")
        .withColumn("c_n", norm(F.col("c_emb")))
        .join(F.broadcast(_query_side(embeddings, n_queries)), "query_id")
        .withColumn("cos", _hoisted_cos())
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank",
                F.col("cos").alias("cosine"))
    )


def sql_exact_rerank(cand_sql: str, k: int, src: str = "embeddings") -> str:
    """DuckDB twin of :func:`exact_rerank` over any shortlist query."""
    return _sql_cosine_topk(f"""
        WITH cand AS ({cand_sql})
        SELECT c.query_id, c.neighbor_id,
               {sql_cosine('q.embedding', 'e.embedding')} AS cosine
        FROM cand c
        JOIN {src} e ON e.vec_id = c.neighbor_id
        JOIN {src} q ON q.vec_id = c.query_id""", k)


def range_search(
    embeddings: DataFrame, n_queries: int = 10, tau: float = 0.5
) -> DataFrame:
    """FAISS-style RANGE search: every corpus vector whose cosine with
    the query is >= ``tau`` (all-neighbors-within-radius, the dedup/
    recall-audit primitive top-k cannot express -- k truncates exactly
    the high-density neighborhoods a radius query is for).

    Plan: queries broadcast, norms hoisted once per side, the corpus
    streams through ONE narrow stage and the threshold filters BEFORE
    anything shuffles -- with no top-k window the whole operator is
    exchange-free (pinned by test).  At 100 TB the same predicate runs
    on the IVF-probed shortlist (ivfpq_search) instead of the full
    scan; the threshold semantics are identical."""
    return (
        _corpus_side(embeddings)
        .join(F.broadcast(_query_side(embeddings, n_queries)),
              F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", _hoisted_cos())
        .filter(F.col("cos") >= tau)
        .select("query_id", "neighbor_id", F.col("cos").alias("cosine"))
    )


def sql_range_search(
    n_queries: int = 10, tau: float = 0.5, src: str = "embeddings"
) -> str:
    """DuckDB twin of :func:`range_search`."""
    return f"""
        WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
                   FROM {src} WHERE vec_id < {n_queries})
        SELECT q.query_id, e.vec_id AS neighbor_id,
               {sql_cosine('q.q_emb', 'e.embedding')} AS cosine
        FROM {src} e CROSS JOIN q
        WHERE e.vec_id != q.query_id
          AND {sql_cosine('q.q_emb', 'e.embedding')} >= {tau}
    """


def hard_negatives(
    embeddings: DataFrame, n_queries: int = 10, k: int = 5
) -> DataFrame:
    """Contrastive hard-negative mining: for each query vector, the top-k
    most cosine-similar corpus vectors with a DIFFERENT label -- the
    pairs an embedding-model training run wants in its contrastive batch
    (easy negatives teach nothing; same-label neighbors are positives,
    not negatives).  The ``label`` column plays the class/positive-set
    role.

    Same plan shape as :func:`knn_bruteforce`: the query side is
    broadcast, the corpus streams through one narrow stage (norms hoisted
    to one column per side), and the only shuffle is the per-query top-k
    window over the scored pairs.  At 100 TB the brute-force scorer swaps
    for :func:`ivfpq_search`'s shortlist with this same label predicate
    as the post-filter."""
    q = _query_side(
        embeddings, n_queries, F.col("label").alias("query_label"))
    c = _corpus_side(embeddings, F.col("label").alias("neighbor_label"))
    scored = c.join(
        F.broadcast(q),
        (F.col("neighbor_id") != F.col("query_id"))
        & (F.col("neighbor_label") != F.col("query_label")),
    )
    return _cosine_topk(scored, k).select(
        "query_id",
        "neighbor_id",
        "query_label",
        "neighbor_label",
        "rank",
        F.col("cos").alias("cosine"),
    )


def sql_hard_negatives(
    n_queries: int = 10, k: int = 5, src: str = "embeddings"
) -> str:
    """DuckDB twin of :func:`hard_negatives`."""
    return f"""
        WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb,
                          label AS query_label
                   FROM {src} WHERE vec_id < {n_queries}),
        scored AS (SELECT q.query_id, e.vec_id AS neighbor_id,
                          q.query_label, e.label AS neighbor_label,
                          {sql_cosine('q.q_emb', 'e.embedding')} AS cos
                   FROM {src} e CROSS JOIN q
                   WHERE e.vec_id != q.query_id
                     AND e.label != q.query_label)
        SELECT query_id, neighbor_id, query_label, neighbor_label,
               CAST(rank AS BIGINT) AS rank, cos AS cosine
        FROM (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY query_id
                  ORDER BY cos DESC, neighbor_id ASC) AS rank
              FROM scored)
        WHERE rank <= {k}
    """


def _plane_weight(j: int, idx0: Column) -> Column:
    """Deterministic integer hyperplane weight for plane j, 0-based dim."""
    return ((F.lit(131 * j) + F.lit(137) * idx0) % 19 - F.lit(9)).cast("double")


def lsh_buckets(embeddings: DataFrame, n_planes: int = 6) -> DataFrame:
    """Random-hyperplane bucket id per vector (sign-bit concatenation)."""
    emb = _as_double(F.col("embedding"))
    bucket = F.lit(0).cast("long")

    def weigh(j):
        # closure (not a default arg) -- pyspark counts lambda params to
        # pick the higher-order-function arity.
        return lambda x, i: x * _plane_weight(j, i)

    for j in range(n_planes):
        dot_j = F.aggregate(
            F.transform(emb, weigh(j)), F.lit(0.0), lambda acc, x: acc + x
        )
        bucket = bucket + F.shiftleft((dot_j >= 0).cast("long"), j)
    return embeddings.select("vec_id", "label", bucket.alias("bucket"))


def sql_lsh_bucket(emb: str, n_planes: int = 6) -> str:
    """DuckDB twin of the bucket id (lambda index is 1-based -> d = i-1)."""
    terms = []
    for j in range(n_planes):
        fold = (
            f"list_reduce(list_transform({emb}, (x, i) -> "
            f"CAST(x AS DOUBLE) * CAST((({131 * j} + 137 * (i - 1)) % 19) - 9 AS DOUBLE)), "
            f"(a, b) -> a + b)"
        )
        terms.append(f"(CASE WHEN {fold} >= 0 THEN {1 << j} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def knn_lsh(
    embeddings: DataFrame, n_queries: int = 10, k: int = 3, n_planes: int = 6
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket."""
    b = lsh_buckets(embeddings, n_planes)
    withb = embeddings.join(b.select("vec_id", "bucket"), "vec_id")
    scored = (
        _corpus_side(withb, F.col("bucket"))
        .join(_query_side(withb, n_queries, F.col("bucket")), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    return _cosine_topk(scored, k).select(
        "query_id", "neighbor_id", "rank", F.col("cos").alias("cosine")
    )


def sql_knn_lsh(
    n_queries: int = 10, k: int = 3, n_planes: int = 6,
    src: str = "embeddings",
) -> str:
    """DuckDB twin of :func:`knn_lsh` (same buckets, same tie rule)."""
    return _sql_cosine_topk(f"""
        WITH b AS (SELECT vec_id, embedding,
                          {sql_lsh_bucket('embedding', n_planes)} AS bucket
                   FROM {src})
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {sql_cosine('q.embedding', 'c.embedding')} AS cosine
        FROM b c JOIN b q ON c.bucket = q.bucket
        WHERE q.vec_id < {n_queries} AND c.vec_id != q.vec_id""", k)


def _seed_centroids(embeddings: DataFrame, n_centroids: int) -> DataFrame:
    """Deterministic init: the first ``n_centroids`` vectors by id."""
    return embeddings.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_emb")
    )


def _collect_centroids(cents: DataFrame) -> list[tuple[int, list[float]]]:
    """O(k*d) driver collect of the centroid relation -- model state, not
    data (the MLlib Lloyd shape: centroids live on the driver)."""
    return [(r["centroid_id"], list(r["c_emb"])) for r in cents.collect()]


def _assign_literal(
    embeddings: DataFrame, cents_rows: list[tuple[int, list[float]]]
) -> DataFrame:
    """(vec_id, centroid_id, centroid_cosine, embedding): max-cosine cell
    per vector against DRIVER-HELD centroids inlined as literal arrays.

    Assignment is effectively a NARROW map -- no shuffle, no per-vector
    window: the whole centroid matrix rides along as ONE broadcast row
    (ids array + nested vec array), each vector evaluates k
    fold-dot-products over it and takes the field-wise ``array_max`` of
    (cos, -centroid_id) structs (ties resolve to the smallest id, same
    rule as the oracle's ``ROW_NUMBER ... ORDER BY cos DESC, id ASC``).
    At 100 TB this is the difference between a free pass over the corpus
    and a corpus-wide shuffle behind a per-vector window.

    The matrix is DATA (a broadcast LocalRelation), not literals baked
    into the plan: literal centroids would embed k*d constants in the
    generated code, forcing a full codegen recompile every Lloyd
    iteration (~1.3 s/iter measured locally, dwarfing the actual
    arithmetic); a broadcast row keeps the plan byte-identical across
    iterations so the codegen cache hits.  Arithmetic is bit-identical
    to a join form: the row carries the same float32 values a centroid
    relation would, cast to double by the same left fold."""
    rows = sorted(cents_rows)
    cmat = embeddings.sparkSession.createDataFrame(
        [(
            [int(cid) for cid, _ in rows],
            [[float(x) for x in c] for _, c in rows],
        )],
        "c_ids array<bigint>, c_vecs array<array<double>>",
    ).select(
        # centroid norms ride precomputed on the broadcast row (constant-
        # folded on the LocalRelation by the same norm() fold, so the
        # values are the bits cosine() would compute); the row's own norm
        # is hoisted below -- per (row, centroid) the interpreted lambda
        # then does ONE dot instead of dot + two norm re-derivations
        "c_ids",
        "c_vecs",
        F.transform(F.col("c_vecs"), lambda v: norm(v)).alias("c_ns"),
    )
    scored = F.transform(
        F.col("c_vecs"),
        lambda c, i: F.struct(
            (dot(F.col("embedding"), c)
             / (F.col("__en") * F.element_at(F.col("c_ns"), i + F.lit(1))))
            .alias("cos"),
            (-F.element_at(F.col("c_ids"), i + F.lit(1)))
            .cast("long")
            .alias("neg_id"),
        ),
    )
    best = F.array_max(scored)
    # two-step projection: the multi-referenced `b` alias is not cheap, so
    # CollapseProject keeps it single-evaluation instead of inlining the
    # whole argmax tree once per extracted field; the join boundary keeps
    # __en evaluated once per row (the knn_bruteforce hoist)
    return (
        embeddings.select(
            "vec_id", "embedding", norm(F.col("embedding")).alias("__en")
        )
        .crossJoin(F.broadcast(cmat))
        .select("vec_id", "embedding", best.alias("b"))
        .select(
            "vec_id",
            (-F.col("b.neg_id")).alias("centroid_id"),
            F.col("b.cos").alias("centroid_cosine"),
            "embedding",
        )
    )


def kmeans_train(
    embeddings: DataFrame,
    n_centroids: int = 8,
    n_iter: int = 4,
    cache_input: bool = False,
) -> DataFrame:
    """Spherical k-means (Lloyd) entirely in DataFrame ops: the trained
    replacement for the first-k centroid stand-in.

    Per iteration: (1) assign -- narrow argmax-cosine against the
    broadcast centroid matrix (``_assign_literal``), one corpus scan,
    the corpus never shuffles on anything but (centroid, dim)
    partial sums; (2) update -- elementwise mean via ``posexplode`` +
    map-side-combined sums per (centroid, dim), reassembled in dim order
    and L2-normalized (spherical k-means: centroids live on the unit
    sphere, so argmax cosine == argmin angular distance).  A cell that
    loses all members keeps its previous centroid.  The fixed iteration
    count makes the whole training an UNROLLABLE fixpoint: every step is
    deterministic (first-k init, exact decimal sums, double division,
    float32 casts), so a CTE-chain oracle reproduces it bit-for-bit
    (see ``llm_queries._ivf_kmeans_sql``).

    Centroids are MODEL STATE, not data: O(k*d) floats that live on the
    driver between iterations (the MLlib Lloyd shape).  Each round
    collects k rows and re-broadcasts them as a literal relation, so
    every iteration's plan is flat -- no lineage growth, no checkpoint
    jobs -- and the only things crossing the driver boundary are the
    centroids themselves.  Float round-trip is exact: float32 values
    survive Python doubles bit-for-bit.

    ``cache_input=True`` localCheckpoints the corpus before the loop so
    each Lloyd pass reads memory instead of re-scanning the source (the
    MLlib discipline -- at real scale the scan dominates and this is a
    must; at fixture scale it's a wash, A/B-measured both ways, so the
    default keeps plans scan-identical for the oracle)."""
    spark = embeddings.sparkSession
    if cache_input:
        embeddings = embeddings.localCheckpoint(eager=True)
    cent_schema = "centroid_id bigint, c_emb array<float>"
    cents_rows = _collect_centroids(_seed_centroids(embeddings, n_centroids))
    # per-iteration wall time at toy scale is ~80% query PLANNING, not
    # arithmetic (A/B-measured): AQE re-planning adds ~0.25 s/iter on a
    # job whose shapes are fully known (k*d-row aggregates), and 32
    # shuffle partitions on 512-row shuffles is task overhead.  Pin both
    # for the loop, restore after; at cluster scale revisit only the
    # partition count (the agg output is k*d rows regardless of corpus).
    with shuffle_guard(spark):
        cents_rows = _train_loop(embeddings, cents_rows, n_iter)
    return spark.createDataFrame(cents_rows, cent_schema)


def _train_loop(
    embeddings: DataFrame,
    cents_rows: list[tuple[int, list[float]]],
    n_iter: int,
) -> list[tuple[int, list[float]]]:
    for _ in range(n_iter):
        assigned = _assign_literal(embeddings, cents_rows)
        dims = assigned.select(
            "centroid_id", F.posexplode(_as_double(F.col("embedding"))).alias("pos", "v")
        )
        # decimal-space mean: double summation is partition-order
        # dependent; decimal addition is associative, so the mean (and
        # therefore every trained centroid bit) is partitioning- and
        # retry-independent -- the repo's determinism contract.  The mean
        # is exact-decimal-sum cast double, THEN divided (not decimal
        # avg): decimal avg rounds the quotient at decimal scale, which
        # no other engine mirrors bit-for-bit; sum-then-double-divide is
        # one IEEE op on an exact numerator, portable everywhere.
        means = dims.groupBy("centroid_id", "pos").agg(
            (
                F.sum(F.col("v").cast("decimal(27,18)")).cast("double")
                / F.count(F.lit(1))
            ).alias("v")
        )
        new = (
            means.groupBy("centroid_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "v"))).alias("pv"))
            .select(
                "centroid_id",
                F.transform(F.col("pv"), lambda s: s["v"]).alias("m"),
            )
            .withColumn(
                "c_emb",
                F.transform(
                    F.col("m"), lambda x: (x / norm(F.col("m"))).cast("float")
                ),
            )
            .select("centroid_id", "c_emb")
        )
        # k-row driver collect; empty cells keep their previous centroid
        trained = {r["centroid_id"]: r["c_emb"] for r in new.collect()}
        cents_rows = [
            (cid, trained.get(cid, prev)) for cid, prev in cents_rows
        ]
    return cents_rows


def ivf_assign(
    embeddings: DataFrame,
    n_centroids: int = 8,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-flat cell assignment.  Default centroids are the first
    ``n_centroids`` vectors (deterministic, oracle-portable); pass
    ``centroids=kmeans_train(...)`` for trained cells.  Centroids are
    collected to the driver (O(k*d) model state) and inlined, so
    assignment is a single NARROW pass over the corpus -- no join, no
    shuffle; at 100 TB, write the corpus bucketed by ``centroid_id`` so
    query probes are partition-pruned reads."""
    cents = centroids if centroids is not None \
        else _seed_centroids(embeddings, n_centroids)
    return _assign_literal(embeddings, _collect_centroids(cents)).select(
        "vec_id", "centroid_id", "centroid_cosine"
    )


def knn_ivf(
    embeddings: DataFrame,
    n_queries: int = 10,
    k: int = 3,
    n_centroids: int = 8,
    nprobe: int = 2,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: each query probes its ``nprobe`` nearest
    cells and ranks only vectors assigned there -- the classic
    recall/cost dial (nprobe=n_centroids degenerates to brute force).
    Pass ``centroids=kmeans_train(...)`` for trained cells."""
    assign = ivf_assign(embeddings, n_centroids, centroids=centroids)
    cents = centroids if centroids is not None else \
        _seed_centroids(embeddings, n_centroids)
    q = embeddings.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        norm(F.col("embedding")).alias("q_n"),
    )
    probe_scored = q.join(F.broadcast(cents)).withColumn(
        "cos", cosine(F.col("q_emb"), F.col("c_emb"))
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("centroid_id"))
    probes = (
        probe_scored.withColumn("rnk", F.row_number().over(wq))
        .filter(F.col("rnk") <= nprobe)
        .select("query_id", "q_emb", "q_n", "centroid_id")
    )
    # norms hoisted once per side behind the join boundaries (the
    # knn_bruteforce discipline): dot/(q_n*c_n) is the same expression
    # tree cosine() builds, bit-identical values
    cands = (
        assign.join(embeddings, "vec_id")
        .select(
            "vec_id", "embedding", "centroid_id",
            norm(F.col("embedding")).alias("__cn"),
        )
        .join(F.broadcast(probes), "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cos",
            dot(F.col("q_emb"), F.col("embedding"))
            / (F.col("q_n") * F.col("__cn")),
        )
    )
    return topk_by_group(
        cands, ["query_id"], [F.desc("cos"), F.asc("vec_id")], k
    ).select(
        "query_id", F.col("vec_id").alias("neighbor_id"),
        "rank", F.col("cos").alias("cosine"),
    )


def knn_lsh_multiprobe(
    embeddings: DataFrame, n_queries: int = 10, k: int = 3, n_planes: int = 6
) -> DataFrame:
    """Multi-probe hyperplane LSH: each query probes its own bucket PLUS
    every bucket at Hamming distance 1 (one sign bit flipped) -- the
    standard recall fix for sign-LSH on weakly clustered data (measured
    here: single-probe recalls 1/30 of true top-3 on random embeddings;
    multi-probe at distance 1 covers the near-hyperplane misses).
    Candidate volume grows (n_planes+1)x, still nothing like all-pairs."""
    b = lsh_buckets(embeddings, n_planes)
    withb = embeddings.join(b.select("vec_id", "bucket"), "vec_id")
    probes = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << j)) for j in range(n_planes)],
    )
    q = _query_side(withb, n_queries, F.explode(probes).alias("bucket"))
    # q_n/c_n are functions of the embedding columns, so carrying them
    # through the distinct leaves the distinct pair set unchanged
    scored = (
        _corpus_side(withb, F.col("bucket"))
        .join(q, "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "q_emb", "c_emb", "q_n", "c_n")
        .distinct()
    )
    return _cosine_topk(scored, k).select(
        "query_id", "neighbor_id", "rank", F.col("cos").alias("cosine"),
    )


# -- product quantization ---------------------------------------------------


def _sub_slice(arr: Column, j: int, dsub: int) -> Column:
    """0-based subspace ``j`` of a (double-cast) vector: dims [j*dsub, ...)."""
    return F.slice(arr, j * dsub + 1, dsub)


def _subspace_slicer(j: int, dsub: int):
    """1-arg HOF lambda slicing subspace ``j`` (closure, not a default
    arg: PySpark derives the HOF's arity from the lambda signature)."""
    return lambda v: _sub_slice(v, j, dsub)


def _code_scorer(sub_col: str, ids_col: str, id_alias: str):
    """2-arg HOF lambda scoring one precomputed codebook slice against
    the row's precomputed subspace slice column."""
    return lambda cs, i: F.struct(
        _d2q(F.col(sub_col), cs).alias("d2q"),
        F.element_at(F.col(ids_col), i + F.lit(1)).alias(id_alias),
    )


def _dtab_scorer(sub_col: str):
    """1-arg HOF lambda building one subspace's query distance ROW: the
    floor-quantized d2q of the query's precomputed subspace slice
    against each codebook slice, in codebook order."""
    return lambda cs: _d2q(F.col(sub_col), cs)


def _d2q(a: Column, b: Column) -> Column:
    """Floor-quantized (1e-9 grid) squared L2 distance.

    The fold is sequential (bit-equal to DuckDB list_reduce), every op an
    exactly-rounded IEEE -,*,+; floor is exact -- so the quantized
    distance, and every argmin/sum decision built on it, replays
    identically on any engine, partitioning, or retry."""
    d2 = _fold_sum(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)))
    return F.floor(d2 * F.lit(1e9)).cast("long")


def pq_codes(
    embeddings: DataFrame,
    m: int = 8,
    ksub: int = 16,
    d: int = 64,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Product-quantization encoding (Jegou et al. 2011): split each
    ``d``-dim vector into ``m`` subspaces of ``d/m`` dims and store, per
    subspace, the id of the nearest of ``ksub`` sub-centroids -- the
    corpus compresses from ``d`` floats to ``m`` small ints per vector
    (here 64 floats -> 8 codes: 32x), which is what makes
    billion-vector ANN fit in memory at all.

    Default codebook: sub-vectors of the first ``ksub`` corpus vectors
    (deterministic, oracle-portable -- the ivf_assign convention); pass
    ``centroids=kmeans_train(...)`` sub-sliced for trained codebooks.
    The codebook is O(ksub*d) MODEL STATE riding as one broadcast row
    (the _assign_literal shape), so encoding is a NARROW scan: each
    vector does m small argmin folds, no shuffle, no join -- at 100 TB
    the corpus is encoded in one pass and the codes table (m ints/row)
    is what every later query touches.  Argmin decisions compare
    floor-quantized distances (struct min: d2q asc, cid asc), so codes
    are bit-stable everywhere.
    """
    dsub = d // m
    cents = centroids if centroids is not None else embeddings.filter(
        F.col("vec_id") < ksub
    ).select(F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_emb"))
    rows = sorted(_collect_centroids(cents))
    cmat = embeddings.sparkSession.createDataFrame(
        [(
            [int(cid) for cid, _ in rows],
            [[float(x) for x in c] for _, c in rows],
        )],
        "c_ids array<bigint>, c_vecs array<array<double>>",
    ).select(
        # per-subspace centroid slices precomputed ONCE on the broadcast
        # row (constant-folded on the LocalRelation): the interpreted
        # argmin lambda then slices nothing.  NB: closures, not lambda
        # default args -- PySpark derives HOF arity from the lambda's
        # parameter count.
        "c_ids",
        *[
            F.transform(F.col("c_vecs"), _subspace_slicer(j, dsub)).alias(
                f"__c_sub_{j}"
            )
            for j in range(m)
        ],
    )
    emb = _as_double(F.col("embedding"))
    out_cols = [F.col("vec_id")]
    for j in range(m):
        # the row's own subspace slice is hoisted behind the join
        # boundary too -- evaluated once per row, not once per centroid
        scored = F.transform(
            F.col(f"__c_sub_{j}"),
            _code_scorer(f"__sub_{j}", "c_ids", "cid"),
        )
        out_cols.append(F.array_min(scored)["cid"].alias(f"code_{j}"))
    pre = embeddings.select(
        "vec_id",
        *[_sub_slice(emb, j, dsub).alias(f"__sub_{j}") for j in range(m)],
    )
    return pre.crossJoin(F.broadcast(cmat)).select(*out_cols)


def knn_pq_adc(
    embeddings: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    d: int = 64,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query stays
    exact, the corpus is its codes, and the approximate distance is the
    SUM over subspaces of a precomputed (query, subspace, code) table --
    per corpus vector the scan does m integer table lookups + adds, no
    float math, no d-dim dot product.  That table is O(q * m * ksub)
    entries -- broadcast model state -- so the corpus never shuffles
    until the per-query top-k rank (the knn_bruteforce window shape;
    compose with IVF cell pruning to cut the candidate set at real
    scale).  Distances are floor-quantized BIGINTs (see _d2q): the ADC
    sum and ranking are engine/partitioning/retry-exact.

    Plan shape (guide §2.4 -- remove shuffles outright): the distance
    table rides as ``n_queries`` broadcast ROWS, one array of d2q per
    subspace in codebook order, and the ADC sum is a NARROW expression
    over the wide code columns -- m ``element_at`` lookups + adds per
    (vector, query).  The former long-form plan exploded the codes m x,
    hash-joined them against the exploded table, and re-aggregated per
    (query, vector) -- a corpus-sized shuffle that existed only to undo
    the explode.  BIGINT addition is associative, so the fold equals
    the old SUM bit-for-bit.
    """
    dsub = d // m
    codes = pq_codes(embeddings, m=m, ksub=ksub, d=d)
    cents = embeddings.filter(F.col("vec_id") < ksub).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("c_emb"),
    )
    rows = sorted(_collect_centroids(cents))
    cmat = embeddings.sparkSession.createDataFrame(
        [(
            [int(cid) for cid, _ in rows],
            [[float(x) for x in c] for _, c in rows],
        )],
        "c_ids array<bigint>, c_vecs array<array<double>>",
    ).select(
        "c_ids",
        *[
            F.transform(F.col("c_vecs"), _subspace_slicer(j, dsub)).alias(
                f"__c_sub_{j}"
            )
            for j in range(m)
        ],
    )
    qe = _as_double(F.col("embedding"))
    qpre = embeddings.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        *[
            _sub_slice(qe, j, dsub).alias(f"__qsub_{j}")
            for j in range(m)
        ],
    )
    qtab = qpre.crossJoin(F.broadcast(cmat)).select(
        "query_id",
        "c_ids",
        *[
            F.transform(
                F.col(f"__c_sub_{j}"), _dtab_scorer(f"__qsub_{j}")
            ).alias(f"__dt_{j}")
            for j in range(m)
        ],
    )
    adc_terms = [
        F.element_at(
            F.col(f"__dt_{j}"),
            F.array_position(F.col("c_ids"), F.col(f"code_{j}")).cast("int"),
        )
        for j in range(m)
    ]
    adc_sum = adc_terms[0]
    for t in adc_terms[1:]:
        adc_sum = adc_sum + t
    scored = (
        codes.crossJoin(F.broadcast(qtab))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", adc_sum.alias("adc_q"))
    )
    return topk_by_group(
        scored, ["query_id"], [F.asc("adc_q"), F.asc("vec_id")], k
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        "rank",
        "adc_q",
    )


def _sql_d2q(a: str, b: str) -> str:
    return (
        f"CAST(FLOOR(list_reduce(list_transform(list_zip({a}, {b}), "
        f"p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) "
        f"* (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), "
        f"(x, y) -> x + y) * 1e9) AS BIGINT)"
    )


def sql_pq_codes(
    m: int = 8, ksub: int = 16, d: int = 64, src: str = "embeddings"
) -> str:
    """DuckDB twin of :func:`pq_codes` (same quantized-argmin decisions)."""
    dsub = d // m
    js = ", ".join(f"({j})" for j in range(m))
    wide = ",\n               ".join(
        f"MAX(CASE WHEN j = {j} THEN cid END) AS code_{j}" for j in range(m)
    )
    return f"""
        WITH cents AS (SELECT vec_id AS cid, embedding AS c
                       FROM {src} WHERE vec_id < {ksub}),
        scored AS (
            SELECT e.vec_id, j.j, cents.cid,
                   {_sql_d2q("e.embedding[j.j*" + str(dsub) + "+1 : j.j*" + str(dsub) + "+" + str(dsub) + "]",
                             "cents.c[j.j*" + str(dsub) + "+1 : j.j*" + str(dsub) + "+" + str(dsub) + "]")} AS d2q
            FROM {src} e CROSS JOIN (VALUES {js}) AS j(j) CROSS JOIN cents),
        best AS (
            SELECT vec_id, j, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                      ORDER BY d2q ASC, cid ASC) AS rnk
            FROM scored)
        SELECT vec_id,
               {wide}
        FROM best WHERE rnk = 1
        GROUP BY vec_id
    """


def sql_knn_pq_adc(
    n_queries: int = 10,
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    d: int = 64,
    src: str = "embeddings",
) -> str:
    """DuckDB twin of :func:`knn_pq_adc` (codes + dtab + integer ADC)."""
    dsub = d // m
    js = ", ".join(f"({j})" for j in range(m))
    sub = lambda arr: f"{arr}[j.j*{dsub}+1 : j.j*{dsub}+{dsub}]"  # noqa: E731
    return f"""
        WITH cents AS (SELECT vec_id AS cid, embedding AS c
                       FROM {src} WHERE vec_id < {ksub}),
        scored AS (
            SELECT e.vec_id, j.j, cents.cid,
                   {_sql_d2q(sub('e.embedding'), sub('cents.c'))} AS d2q
            FROM {src} e CROSS JOIN (VALUES {js}) AS j(j) CROSS JOIN cents),
        codes AS (
            SELECT vec_id, j, cid AS code
            FROM (SELECT vec_id, j, cid,
                         ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                            ORDER BY d2q ASC, cid ASC) AS rnk
                  FROM scored)
            WHERE rnk = 1),
        dtab AS (
            SELECT q.vec_id AS query_id, j.j, cents.cid,
                   {_sql_d2q(sub('q.embedding'), sub('cents.c'))} AS d2q
            FROM {src} q CROSS JOIN (VALUES {js}) AS j(j) CROSS JOIN cents
            WHERE q.vec_id < {n_queries}),
        adc AS (
            SELECT d.query_id, c.vec_id, CAST(SUM(d.d2q) AS BIGINT) AS adc_q
            FROM codes c JOIN dtab d ON c.j = d.j AND c.code = d.cid
            WHERE c.vec_id != d.query_id
            GROUP BY d.query_id, c.vec_id),
        ranked AS (
            SELECT query_id, vec_id AS neighbor_id, adc_q,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY adc_q ASC, vec_id ASC) AS rank
            FROM adc)
        SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, adc_q
        FROM ranked WHERE rank <= {k}
    """


def pq_dedup_groups(
    embeddings: DataFrame,
    m: int = 8,
    ksub: int = 16,
    d: int = 64,
    block_m: int | None = None,
) -> DataFrame:
    """Embedding near-dup candidate groups = vectors sharing the first
    ``block_m`` codes of their PQ word -- quantization as the blocking
    function.  ``block_m`` trades recall for selectivity on a
    ``ksub^block_m``-cell grid (block_m=4 here: 65k cells; the full
    word, 16^8 = 4x10^9 cells, is exact-near-duplicate-only); at
    billion-vector scale this is ONE hash-groupBy over a few small ints
    -- no pairs, no cosine, no LSH tables -- and the verified-pair step
    (cosine inside each group) touches only group members.

    Output: one row per group with >= 2 members (group key = the code
    prefix), its size, and the smallest member id as representative."""
    block_m = m if block_m is None else block_m
    codes = pq_codes(embeddings, m=m, ksub=ksub, d=d)
    keys = [f"code_{j}" for j in range(block_m)]
    return (
        codes.groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min("vec_id").alias("rep_vec_id"),
        )
        .filter(F.col("n_vecs") >= 2)
    )


def sql_pq_dedup_groups(
    m: int = 8,
    ksub: int = 16,
    d: int = 64,
    block_m: int | None = None,
    src: str = "embeddings",
) -> str:
    keys = ", ".join(f"code_{j}" for j in range(block_m if block_m is not None else m))
    return f"""
        WITH codes AS ({sql_pq_codes(m=m, ksub=ksub, d=d, src=src)})
        SELECT {keys}, COUNT(*) AS n_vecs, MIN(vec_id) AS rep_vec_id
        FROM codes
        GROUP BY {keys}
        HAVING COUNT(*) >= 2
    """

# -- IVF-PQ (coarse cells + residual product quantization) -------------------


def ivfpq_encode(
    embeddings: DataFrame,
    n_coarse: int = 8,
    m: int = 8,
    ksub: int = 16,
    d: int = 64,
):
    """The BUILD half of IVF-PQ: coarse-assign each vector (narrow
    broadcast-matrix pass), product-quantize its residual against the
    residual codebook, and return the long code relation plus the two
    driver-held model artifacts.

    Returns ``(codes_long, coarse, rcode)``: ``codes_long`` is
    (vec_id, cell, j, code) -- the relation a 100 TB corpus persists
    BUCKETED BY ``cell`` (``plans.scale.write_bucketed``) so query
    probes are partition-pruned reads with no corpus shuffle (pinned by
    ``tests/test_scale.py::test_ivf_codes_bucketed_probe_skips_corpus_shuffle``);
    ``coarse``/``rcode`` are the O(k*d) centroid and residual-codebook
    model state the SEARCH half (:func:`knn_ivfpq`) bakes into the
    query-side distance table."""
    coarse = sorted(_collect_centroids(_seed_centroids(embeddings, n_coarse)))
    assigned = _ivf_assign_with(embeddings, coarse)
    # residual codebook: residuals of the first ksub vectors (model state)
    rcode = sorted(
        (row["vec_id"], list(row["r"]))
        for row in assigned.filter(F.col("vec_id") < ksub).collect()
    )
    return ivfpq_encode_with_model(embeddings, coarse, rcode, m, d), coarse, rcode


def _ivf_assign_with(
    embeddings: DataFrame, coarse: list[tuple[int, list[float]]]
) -> DataFrame:
    """(vec_id, cell, r): coarse-assign against GIVEN centroids -- one
    narrow broadcast-matrix pass (assign to max-cosine cell, subtract
    its centroid).  The 0-based array index rides in the argmax struct
    so the winning centroid vector is fetched by POSITION, never
    reconstructed from its id (ids below n_coarse need not be
    contiguous)."""
    spark = embeddings.sparkSession
    cmat = spark.createDataFrame(
        [(
            [int(cid) for cid, _ in coarse],
            [[float(x) for x in c] for _, c in coarse],
        )],
        "c_ids array<bigint>, c_vecs array<array<double>>",
    ).select(
        # hoisted norms, same discipline as _assign_literal: centroid
        # norms precomputed once on the broadcast row, row norm once
        # behind the join boundary -- one dot per (row, centroid)
        "c_ids",
        "c_vecs",
        F.transform(F.col("c_vecs"), lambda v: norm(v)).alias("c_ns"),
    )
    scored = F.transform(
        F.col("c_vecs"),
        lambda c, i: F.struct(
            (dot(F.col("embedding"), c)
             / (F.col("__en") * F.element_at(F.col("c_ns"), i + F.lit(1))))
            .alias("cos"),
            (-F.element_at(F.col("c_ids"), i + F.lit(1)))
            .cast("long")
            .alias("neg_id"),
            i.cast("int").alias("idx"),
        ),
    )
    best = F.array_max(scored)
    return (
        embeddings.select(
            "vec_id", "embedding", norm(F.col("embedding")).alias("__en")
        )
        .crossJoin(F.broadcast(cmat))
        .select("vec_id", "embedding", "c_vecs", best.alias("b"))
        .select(
            "vec_id",
            (-F.col("b.neg_id")).alias("cell"),
            F.zip_with(
                _as_double(F.col("embedding")),
                F.element_at(F.col("c_vecs"), F.col("b.idx") + F.lit(1)),
                lambda x, y: x - y,
            ).alias("r"),
        )
    )


def ivfpq_encode_with_model(
    embeddings: DataFrame,
    coarse: list[tuple[int, list[float]]],
    rcode: list[tuple[int, list[float]]],
    m: int = 8,
    d: int = 64,
) -> DataFrame:
    """Encode vectors against an EXISTING IVF-PQ model (coarse centroids
    + residual codebook as driver-held model state) -- the
    index-MAINTENANCE path: a new ingest batch is coded by the serving
    model, never by retraining (retraining re-codes the whole corpus;
    that is a rebuild, the e18 lifecycle).  One narrow pass, two
    broadcast model rows, no shuffle; returns WIDE codes
    (vec_id, cell, code_0..code_{m-1}) -- one row per vector, the shape
    the narrow ADC search consumes directly (:func:`ivfpq_read_codes`
    explodes to the long (vec_id, cell, j, code) result contract)."""
    dsub = d // m
    spark = embeddings.sparkSession
    assigned = _ivf_assign_with(embeddings, coarse)
    rmat = spark.createDataFrame(
        [(
            [int(rid) for rid, _ in rcode],
            [[float(x) for x in rv] for _, rv in rcode],
        )],
        "r_ids array<bigint>, r_vecs array<array<double>>",
    ).select(
        # per-subspace codebook slices precomputed on the broadcast row
        # (the pq_codes discipline)
        "r_ids",
        *[
            F.transform(F.col("r_vecs"), _subspace_slicer(j, dsub)).alias(
                f"__r_sub_{j}"
            )
            for j in range(m)
        ],
    )
    enc_cols = [F.col("vec_id"), F.col("cell")]
    for j in range(m):
        cand = F.transform(
            F.col(f"__r_sub_{j}"),
            _code_scorer(f"__sub_{j}", "r_ids", "rid"),
        )
        enc_cols.append(F.array_min(cand)["rid"].alias(f"code_{j}"))
    pre = assigned.select(
        "vec_id",
        "cell",
        *[_sub_slice(F.col("r"), j, dsub).alias(f"__sub_{j}") for j in range(m)],
    )
    return pre.crossJoin(F.broadcast(rmat)).select(*enc_cols)


def _code_cols(codes: DataFrame) -> list[str]:
    """The ``code_j`` columns of a wide code relation, in subspace
    order."""
    return sorted(
        (c for c in codes.columns if c.startswith("code_")),
        key=lambda c: int(c.split("_", 1)[1]),
    )


def codes_to_long(codes: DataFrame) -> DataFrame:
    """Explode wide codes (vec_id, cell, code_0..code_{m-1}) to the
    long (vec_id, cell, j, code) relation -- a narrow generate, no
    shuffle."""
    cols = _code_cols(codes)
    return codes.select(
        "vec_id",
        "cell",
        F.posexplode(F.array(*[F.col(c) for c in cols])).alias("j", "code"),
    )


#: id-bucket count of the store's direct map (vec_id -> cell); sizes the
#: lookup's partition pruning, not correctness
IVFPQ_IDMAP_BUCKETS = 16


def ivfpq_write_store(codes: DataFrame, store_path: str) -> None:
    """Lay down a full IVF-PQ code store: ``<store>/codes`` partitioned
    by ``cell`` (the search side: probes read only their cells) plus
    ``<store>/idmap`` -- the vec_id -> cell DIRECT MAP partitioned by
    ``idb = vec_id mod {IVFPQ_IDMAP_BUCKETS}`` (the maintenance side:
    an upsert must find a re-ingested vector's OLD cell without
    scanning the corpus; FAISS keeps the same structure as its
    DirectMap).

    ``codes`` is the WIDE relation from the encoder (one row per
    vector, ``code_0..code_{m-1}``) -- m x fewer stored rows than the
    former long layout and no ``j`` column at all; the long result
    contract is re-derived narrow by :func:`ivfpq_read_codes`."""
    # repartition on the partition column before writing: without it
    # every shuffle partition spills a file into every cell directory
    # (shuffle_partitions x n_cells small files -- the classic
    # lakehouse small-file trap; at real scale pair this with
    # maxRecordsPerFile to split hot cells into bounded files)
    (
        codes.repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(store_path + "/codes")
    )
    # derive the direct map from the JUST-WRITTEN store, not from the
    # ``codes`` lineage: ``codes`` is usually the un-materialized encode
    # pipeline (assign + m argmin folds over the corpus), and evaluating
    # it a second time for a two-int-column relation re-runs the whole
    # encode (guide #1.2 -- don't compute things twice).  The read-back
    # is a column-pruned scan of exactly the rows just written (same
    # rows by definition of the write), so the idmap content is
    # unchanged.
    written = ivfpq_read_codes_wide(codes.sparkSession, store_path)
    idmap = (
        written.select("vec_id", "cell")
        .distinct()
        .withColumn(
            "idb", F.pmod(F.col("vec_id"), F.lit(IVFPQ_IDMAP_BUCKETS))
            .cast("int")
        )
    )
    (
        idmap.repartition("idb")
        .write.mode("overwrite")
        .partitionBy("idb")
        .parquet(store_path + "/idmap")
    )


def ivfpq_read_codes_wide(spark: "SparkSession", store_path: str) -> DataFrame:
    """The stored WIDE code relation (vec_id, cell, code_0..) with the
    partition column restored to its logical type -- what the serving
    search consumes directly."""
    df = spark.read.parquet(store_path + "/codes")
    return df.select(
        "vec_id", F.col("cell").cast("long").alias("cell"), *_code_cols(df)
    )


def ivfpq_read_codes(spark: "SparkSession", store_path: str) -> DataFrame:
    """The stored code relation in its LONG result shape
    (vec_id, cell, j, code) -- a narrow explode of the wide store."""
    return codes_to_long(ivfpq_read_codes_wide(spark, store_path))


def ivfpq_upsert(
    spark: "SparkSession",
    store_path: str,
    new_vectors: DataFrame,
    coarse: list[tuple[int, list[float]]],
    rcode: list[tuple[int, list[float]]],
    m: int = 8,
    d: int = 64,
) -> list[int]:
    """Merge a new vector batch into an IVF-PQ store
    (:func:`ivfpq_write_store` layout) without touching unaffected
    cells -- ANN index maintenance (r6 verdict item 6).  An upsert:

    1. encodes the batch against the SERVING model (narrow,
       :func:`ivfpq_encode_with_model` -- no retrain, no corpus access);
    2. finds each re-ingested ``vec_id``'s OLD cell through the direct
       map, reading only the id buckets the batch hashes into
       (partition-pruned; an updated embedding usually CHANGES its
       argmax cell, so the old cell must be rewritten too or stale
       codes would keep answering queries -- the r7 review finding);
    3. reads ONLY the touched cell partitions back (new cells + old
       cells), drops rows whose ``vec_id`` is re-ingested
       (update-wins), unions the new codes;
    4. dynamically overwrites just the touched cell directories and the
       touched id-bucket directories (the ``streaming.upsert``
       merge discipline).

    Rewrite amplification is |touched cells| / n_cells (codes) plus
    |touched id buckets| / {IVFPQ_IDMAP_BUCKETS} (idmap rows are two
    ints per vector); the stored corpus is never reshuffled (asserted
    by ``tests/test_llm_ops.py::test_ivfpq_upsert_touched_cells_only``).
    Idempotent: re-delivering the same batch yields the same store.
    Returns the touched cell ids (sorted).
    """
    import os

    new_codes = ivfpq_encode_with_model(
        new_vectors, coarse, rcode, m, d
    ).localCheckpoint(eager=True)
    new_id_rel = new_codes.select("vec_id").distinct()
    # driver traffic is O(model), never O(batch): emptiness via take(1)
    # and id_buckets via a <=IVFPQ_IDMAP_BUCKETS-row distinct -- the
    # batch's vec_ids themselves NEVER cross to the driver (r7 verdict
    # item 1; the only corpus/batch-sized relations stay engine-side
    # as the broadcast new_id_rel)
    # ONE model-sized probe job instead of three (emptiness take(1) +
    # cells distinct + id-bucket distinct): collect_set over the
    # checkpointed batch returns both literal lists in a single 1-row
    # collect, and an empty cells set IS the emptiness test (every code
    # row has a cell).  Driver traffic stays O(model).
    probe = new_codes.agg(
        F.collect_set("cell").alias("cells"),
        F.collect_set(
            F.pmod(F.col("vec_id"), F.lit(IVFPQ_IDMAP_BUCKETS)).cast("int")
        ).alias("idbs"),
    ).collect()[0]
    if not probe["cells"]:
        return []
    touched = set(probe["cells"])
    id_buckets = sorted(probe["idbs"])

    merged = new_codes
    has_store = os.path.exists(store_path + "/codes")
    if has_store:
        # old cells of re-ingested vectors, via the pruned direct map
        idmap = spark.read.parquet(store_path + "/idmap").filter(
            F.col("idb").isin(id_buckets)
        )
        old_cells = {
            r["cell"]
            for r in idmap.join(
                F.broadcast(new_id_rel), "vec_id", "left_semi"
            ).select("cell").distinct().collect()
        }
        touched |= old_cells
        current = ivfpq_read_codes_wide(spark, store_path).filter(
            F.col("cell").isin(sorted(touched))
        )
        kept = current.join(
            F.broadcast(new_id_rel), "vec_id", "left_anti"
        )
        merged = new_codes.unionByName(
            kept.select("vec_id", "cell", *_code_cols(kept))
        )
    touched = sorted(touched)
    # break lineage before overwriting what was just read; the merged
    # relation is touched-cells-sized, not corpus-sized.  Dynamic
    # overwrite rides the WRITE OPTION, not session conf: SQLConf is
    # thread-local, so a session-level set is INVISIBLE to a write
    # planned on a streaming micro-batch thread (foreachBatch runs
    # under the query's cloned session) -- with static mode the
    # 'overwrite' would silently replace the WHOLE store with the
    # touched cells (caught by the stream_ivfpq_upsert oracle)
    merged = merged.localCheckpoint(eager=True)
    (
        merged.repartition(len(touched), F.col("cell"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell")
        .parquet(store_path + "/codes")
    )
    # direct-map maintenance: touched id buckets only
    new_map = (
        new_codes.select("vec_id", "cell")
        .distinct()
        .withColumn(
            "idb", F.pmod(F.col("vec_id"), F.lit(IVFPQ_IDMAP_BUCKETS))
            .cast("int")
        )
    )
    if has_store:
        cur_map = spark.read.parquet(store_path + "/idmap").filter(
            F.col("idb").isin(id_buckets)
        ).join(F.broadcast(new_id_rel), "vec_id", "left_anti")
        new_map = new_map.unionByName(
            cur_map.select("vec_id", "cell", "idb")
        )
    new_map = new_map.localCheckpoint(eager=True)
    (
        new_map.repartition(len(id_buckets), F.col("idb"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("idb")
        .parquet(store_path + "/idmap")
    )
    return touched


def knn_ivfpq(
    embeddings: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    n_coarse: int = 8,
    nprobe: int = 2,
    m: int = 8,
    ksub: int = 16,
    d: int = 64,
) -> DataFrame:
    """IVF-PQ approximate top-k (the FAISS ``IVFADC`` shape, Jegou et
    al. 2011 §IV): a coarse quantizer routes each vector to one of
    ``n_coarse`` inverted cells, the RESIDUAL (vector minus its cell
    centroid) is product-quantized to ``m`` codes, and a query scans
    only its ``nprobe`` nearest cells, ranking candidates by asymmetric
    distance between its own per-cell residual and the candidate codes.
    This is the composition that actually runs at billion-vector scale:
    IVF prunes the corpus to nprobe/n_coarse of its cells, PQ shrinks
    what remains to ``m`` small ints per vector, and ADC turns each
    candidate into m integer lookups + adds.

    Determinism/portability: coarse centroids are the first
    ``n_coarse`` vectors, the residual codebook the residuals of the
    first ``ksub`` vectors; every argmin/ranking decision is either an
    identical IEEE cosine expression tree or a floor-quantized BIGINT
    distance (see ``_d2q``), so the oracle replays it bit-for-bit.

    Scale posture: the coarse matrix and residual codebook are O((k+
    ksub)*d) driver-held model state riding as one broadcast row each;
    assignment + residual + encoding are ONE narrow corpus pass (no
    shuffle); the per-query distance table is O(q*nprobe*m*ksub) rows
    broadcast; the only corpus shuffle is the final per-query top-k.
    At 100 TB, store codes bucketed by ``cell`` so probes become
    partition-pruned reads."""
    codes, coarse, rcode = ivfpq_encode(embeddings, n_coarse, m, ksub, d)
    return ivfpq_search(
        embeddings, codes, coarse, rcode, n_queries, k, nprobe, m, d
    )


def ivfpq_search(
    embeddings: DataFrame,
    codes: DataFrame,
    coarse: list[tuple[int, list[float]]],
    rcode: list[tuple[int, list[float]]],
    n_queries: int = 10,
    k: int = 5,
    nprobe: int = 2,
    m: int = 8,
    d: int = 64,
    prune_cells: bool = False,
) -> DataFrame:
    """The SEARCH half of IVF-PQ against an existing WIDE code relation
    (vec_id, cell, code_0..code_{m-1}) -- what an ANN serving tier
    runs: queries probe their ``nprobe`` nearest cells, build the
    per-probe integer distance arrays from the driver-held model, and
    rank candidates by ADC.

    Plan shape (guide §2.4): the distance table rides as
    O(n_queries * nprobe) broadcast ROWS -- one array of d2q per
    subspace, in codebook order -- joined to the codes on ``cell``
    (BroadcastHashJoin, corpus side never shuffles), and the ADC sum is
    a NARROW expression: m ``element_at`` lookups + BIGINT adds per
    (candidate, probe).  The former long-form plan exploded the codes
    m x, hash-joined on (cell, j, code) and re-aggregated per
    (query, vector) -- a corpus-sized shuffle that existed only to undo
    the explode.  BIGINT addition is associative, so the fold equals
    the old SUM bit-for-bit.

    ``prune_cells=True`` is the served-from-store path: the union of
    probed cell ids (O(n_queries * nprobe) driver scalars -- model-sized
    traffic, never corpus) becomes a LITERAL ``cell IN (...)`` filter on
    the code relation, so a CELL-PARTITIONED store is read
    partition-pruned -- the scan never opens unprobed cells' files
    (asserted by ``tests/test_streaming.py::test_ivfpq_served_reads_only_probed_cells``).
    With the default ``False`` the filter is omitted and the cell
    equality in the ADC join does the restriction (the plan
    :func:`knn_ivfpq` has always had)."""
    dsub = d // m
    spark = embeddings.sparkSession
    # query side: probe nprobe nearest cells, residualize per probed cell
    cents = spark.createDataFrame(
        [(int(cid), [float(x) for x in c]) for cid, c in coarse],
        "centroid_id bigint, c_emb array<double>",
    )
    q = embeddings.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    # plain window is fine here: the input is n_queries x n_centroids
    # MODEL-sized rows, not the corpus — no funnel to bound
    wq = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("centroid_id")
    )
    probes = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("cos", cosine(F.col("q_emb"), F.col("c_emb")))
        .withColumn("rnk", F.row_number().over(wq))
        .filter(F.col("rnk") <= nprobe)
        .select(
            "query_id",
            F.col("centroid_id").alias("cell"),
            F.zip_with(
                _as_double(F.col("q_emb")), F.col("c_emb"), lambda x, y: x - y
            ).alias("q_r"),
        )
    )
    ppre = probes.select(
        "query_id",
        "cell",
        *[
            _sub_slice(F.col("q_r"), j, dsub).alias(f"__qsub_{j}")
            for j in range(m)
        ],
    )
    rmat = spark.createDataFrame(
        [(
            [int(rid) for rid, _ in rcode],
            [[float(x) for x in rv] for _, rv in rcode],
        )],
        "r_ids array<bigint>, r_vecs array<array<double>>",
    ).select(
        "r_ids",
        *[
            F.transform(F.col("r_vecs"), _subspace_slicer(j, dsub)).alias(
                f"__r_sub_{j}"
            )
            for j in range(m)
        ],
    )
    qtab = ppre.crossJoin(F.broadcast(rmat)).select(
        "query_id",
        "cell",
        "r_ids",
        *[
            F.transform(
                F.col(f"__r_sub_{j}"), _dtab_scorer(f"__qsub_{j}")
            ).alias(f"__dt_{j}")
            for j in range(m)
        ],
    )
    if prune_cells:
        # O(n_queries * nprobe) driver scalars; the literal IN list is
        # what lets the partitioned store prune unprobed directories
        probed = sorted(
            r["cell"] for r in probes.select("cell").distinct().collect()
        )
        codes = codes.filter(F.col("cell").isin(probed))
    adc_terms = [
        F.element_at(
            F.col(f"__dt_{j}"),
            F.array_position(F.col("r_ids"), F.col(f"code_{j}")).cast("int"),
        )
        for j in range(m)
    ]
    adc_sum = adc_terms[0]
    for t in adc_terms[1:]:
        adc_sum = adc_sum + t
    adc = (
        codes.join(F.broadcast(qtab), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", adc_sum.alias("adc_q"))
    )
    return topk_by_group(
        adc, ["query_id"], [F.asc("adc_q"), F.asc("vec_id")], k
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        "rank",
        "adc_q",
    )


def _sql_ivfpq_residual() -> str:
    return (
        "list_transform(list_zip({a}, {b}), "
        "p -> CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))"
    )


def _sql_ivfpq_code_ctes(
    n_coarse: int, m: int, ksub: int, d: int, src: str
) -> str:
    """The encode half of the IVF-PQ oracle as CTE text (cents -> assign
    -> resid -> rcode -> enc -> codes) -- shared by :func:`sql_knn_ivfpq`
    and :func:`sql_ivfpq_codes` so the upsert oracle replays the exact
    same model + coding decisions."""
    dsub = d // m
    js = ", ".join(f"({j})" for j in range(m))
    sub = lambda arr: f"{arr}[j.j*{dsub}+1 : j.j*{dsub}+{dsub}]"  # noqa: E731
    residual = _sql_ivfpq_residual()
    return f"""cents AS (SELECT vec_id AS cid, embedding AS c
                       FROM {src} WHERE vec_id < {n_coarse}),
        assign AS (SELECT vec_id, embedding, cid AS cell, c AS c_emb FROM (
                       SELECT e.vec_id, e.embedding, cents.cid, cents.c,
                              ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {sql_cosine('e.embedding', 'cents.c')} DESC,
                                           cents.cid ASC) AS rnk
                       FROM {src} e CROSS JOIN cents)
                   WHERE rnk = 1),
        resid AS (SELECT vec_id, cell,
                         {residual.format(a='embedding', b='c_emb')} AS r
                  FROM assign),
        rcode AS (SELECT vec_id AS rid, r AS r_vec
                  FROM resid WHERE vec_id < {ksub}),
        enc AS (SELECT v.vec_id, v.cell, j.j, rcode.rid,
                       {_sql_d2q(sub('v.r'), sub('rcode.r_vec'))} AS d2q
                FROM resid v CROSS JOIN (VALUES {js}) AS j(j) CROSS JOIN rcode),
        codes AS (SELECT vec_id, cell, j, rid AS code
                  FROM (SELECT vec_id, cell, j, rid,
                               ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                   ORDER BY d2q ASC, rid ASC) AS rnk
                        FROM enc)
                  WHERE rnk = 1)"""


def sql_ivfpq_codes(
    n_coarse: int = 8,
    m: int = 8,
    ksub: int = 16,
    d: int = 64,
    src: str = "embeddings",
) -> str:
    """DuckDB twin of the IVF-PQ code store CONTENTS -- what the
    cell-partitioned lake must hold after any build/upsert sequence over
    the same final corpus (the ``ivfpq_upsert`` oracle: merging a batch
    into a store must equal rebuilding from the union)."""
    return f"""
        WITH {_sql_ivfpq_code_ctes(n_coarse, m, ksub, d, src)}
        SELECT vec_id, cell, j, code FROM codes
    """


def sql_knn_ivfpq(
    n_queries: int = 10,
    k: int = 5,
    n_coarse: int = 8,
    nprobe: int = 2,
    m: int = 8,
    ksub: int = 16,
    d: int = 64,
    src: str = "embeddings",
) -> str:
    """DuckDB twin of :func:`knn_ivfpq` (coarse assign -> residual ->
    residual codebook -> codes -> probes -> dtab -> integer ADC)."""
    dsub = d // m
    js = ", ".join(f"({j})" for j in range(m))
    sub = lambda arr: f"{arr}[j.j*{dsub}+1 : j.j*{dsub}+{dsub}]"  # noqa: E731
    residual = _sql_ivfpq_residual()
    return f"""
        WITH {_sql_ivfpq_code_ctes(n_coarse, m, ksub, d, src)},
        probes AS (SELECT query_id, cell,
                          {residual.format(a='q_emb', b='c_emb')} AS q_r
                   FROM (SELECT q.vec_id AS query_id, q.embedding AS q_emb,
                                cents.cid AS cell, cents.c AS c_emb,
                                ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                    ORDER BY {sql_cosine('q.embedding', 'cents.c')} DESC,
                                             cents.cid ASC) AS rnk
                         FROM {src} q CROSS JOIN cents
                         WHERE q.vec_id < {n_queries})
                   WHERE rnk <= {nprobe}),
        dtab AS (SELECT p.query_id, p.cell, j.j, rcode.rid,
                        {_sql_d2q(sub('p.q_r'), sub('rcode.r_vec'))} AS d2q
                 FROM probes p CROSS JOIN (VALUES {js}) AS j(j)
                 CROSS JOIN rcode),
        adc AS (SELECT t.query_id, c.vec_id,
                       CAST(SUM(t.d2q) AS BIGINT) AS adc_q
                FROM codes c
                JOIN dtab t ON c.cell = t.cell AND c.j = t.j
                           AND c.code = t.rid
                WHERE c.vec_id != t.query_id
                GROUP BY t.query_id, c.vec_id),
        ranked AS (SELECT query_id, vec_id AS neighbor_id, adc_q,
                          ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY adc_q ASC, vec_id ASC) AS rank
                   FROM adc)
        SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, adc_q
        FROM ranked WHERE rank <= {k}
    """


def knn_refine(
    embeddings: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    shortlist: int = 20,
    m: int = 8,
    ksub: int = 16,
    d: int = 64,
) -> DataFrame:
    """Two-stage retrieval (the standard ANN deployment shape, Jegou et
    al. 2011 §VII): a cheap PQ-ADC pass shortlists ``shortlist``
    candidates per query, then ONLY those candidates get the exact
    d-dimensional cosine and the final top-``k`` comes from the exact
    scores.  At billion-vector scale the exact math touches
    ``q * shortlist`` vectors instead of the corpus -- the refine join
    is shortlist-sized and the full-precision vectors are fetched by
    key, which is why PQ stores keep the raw vectors row-addressable.

    Portability: the shortlist is :func:`knn_pq_adc`'s integer-exact
    ADC ranking; the re-rank is :func:`exact_rerank`, the same
    fixed-IEEE-tree cosine every exact-kNN query here uses, so both
    stages replay identically in the oracle.  Output: (query_id,
    neighbor_id, rank, cos_exact).
    """
    short = knn_pq_adc(embeddings, n_queries, shortlist, m, ksub, d)
    return exact_rerank(embeddings, short, n_queries, k).withColumnRenamed(
        "cosine", "cos_exact"
    )


def sql_knn_refine(
    n_queries: int = 10,
    k: int = 5,
    shortlist: int = 20,
    m: int = 8,
    ksub: int = 16,
    d: int = 64,
    src: str = "embeddings",
) -> str:
    """DuckDB twin of :func:`knn_refine` (ADC shortlist CTE + exact
    cosine re-rank)."""
    short = sql_knn_pq_adc(n_queries, shortlist, m, ksub, d, src)
    return f"""
        SELECT query_id, neighbor_id, rank, cosine AS cos_exact
        FROM ({sql_exact_rerank(short, k, src)})
    """


def semdedup(
    embeddings: DataFrame,
    n_centroids: int = 8,
    tau: float = 0.95,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Semantic deduplication (SemDeDup, Abbas et al. 2023): cluster the
    embedding space, then inside each cluster drop every vector that is
    near-identical (cosine >= ``tau``) to a better-kept representative.

    Representative rule (the parallel form production pipelines use in
    place of the paper's sequential greedy sweep): a vector is DROPPED
    iff some same-cell neighbor with cosine >= tau ranks ahead of it by
    (centroid_cosine DESC, vec_id ASC) -- one deterministic pairwise
    predicate, no iteration, no driver loop.  Keeping the
    most-central member per near-identical group is the paper's
    "keep one per duplicate group"; its "keep the outlier" variant is
    the same predicate with the rank flipped.

    Scale shape: assignment is the NARROW broadcast-matrix pass of
    :func:`ivf_assign`; the only shuffle keys on ``centroid_id``, and
    the pairwise work is confined within cells -- O(cell^2) per cell BY
    DESIGN (SemDeDup's cost model), which is why production runs use
    enough clusters that cells stay small (n_centroids is that dial;
    pass ``centroids=kmeans_train(...)`` for trained cells).

    Output: (vec_id, centroid_id, centroid_cosine, keep).
    """
    assign = ivf_assign(embeddings, n_centroids, centroids=centroids)
    # repartition on the self-join key BEFORE aliasing: the join would
    # shuffle both sides on centroid_id anyway; hoisting that into one
    # shared exchange lets AQE stage reuse compute the (narrow,
    # reuse-point-free) assignment pass once for both sides — the
    # lsh_candidate_pairs lesson
    # precompute each vector's norm ONCE: the pairwise test then costs a
    # dot product + one multiply/divide per pair instead of re-deriving
    # both norms O(cell) times each (same expression tree, so the
    # cosine value is bit-identical: dot / (norm_a * norm_b))
    full = (
        assign.join(embeddings.select("vec_id", "embedding"), "vec_id")
        .withColumn("__n", norm(F.col("embedding")))
        .repartition("centroid_id")
    )
    # SALT the within-cell pair join (guide #2.5): with only n_centroids
    # distinct join keys the O(cell^2) dot-product work lands on at most
    # n_centroids tasks, idling the rest of the cluster (and a single
    # hot cell is an unsplittable-key skew AQE cannot fix).  A
    # deterministic salt -- pmod(a_id, S) on the probe side, an S-way
    # explode on the build side -- spreads each cell's pair work over S
    # tasks; every (a, b) pair still meets exactly once (on the b-copy
    # whose salt equals a's), so the dominated set is unchanged.  S
    # derives from the session's parallelism, not a local constant.
    n_salt = max(
        1, (embeddings.sparkSession.sparkContext.defaultParallelism * 4)
        // max(1, n_centroids),
    )
    a = full.select(
        F.col("vec_id").alias("a_id"),
        F.col("centroid_id"),
        F.pmod(F.col("vec_id"), F.lit(n_salt)).alias("__salt"),
        F.col("centroid_cosine").alias("a_cc"),
        F.col("embedding").alias("a_emb"),
        F.col("__n").alias("a_n"),
    )
    b = full.select(
        F.col("vec_id").alias("b_id"),
        F.col("centroid_id"),
        F.col("centroid_cosine").alias("b_cc"),
        F.col("embedding").alias("b_emb"),
        F.col("__n").alias("b_n"),
    ).withColumn(
        "__salt",
        F.explode(F.array(*[F.lit(s) for s in range(n_salt)])),
    )
    # b dominates a: same cell, near-identical, b ranks ahead
    dominated = (
        a.join(b, ["centroid_id", "__salt"])
        .filter(F.col("a_id") != F.col("b_id"))
        .filter(
            (F.col("b_cc") > F.col("a_cc"))
            | ((F.col("b_cc") == F.col("a_cc"))
               & (F.col("b_id") < F.col("a_id")))
        )
        .filter(
            dot(F.col("a_emb"), F.col("b_emb"))
            / (F.col("a_n") * F.col("b_n"))
            >= F.lit(tau)
        )
        .select(F.col("a_id").alias("vec_id"))
        .distinct()
    )
    return (
        assign.join(dominated.withColumn("__drop", F.lit(True)), "vec_id", "left")
        .select(
            "vec_id",
            "centroid_id",
            "centroid_cosine",
            F.coalesce(~F.col("__drop"), F.lit(True)).alias("keep"),
        )
    )


def sql_semdedup(
    n_centroids: int = 8, tau: float = 0.95, src: str = "embeddings"
) -> str:
    """DuckDB twin of :func:`semdedup` (seed-centroid assignment)."""
    return f"""
        WITH cents AS (SELECT vec_id AS centroid_id, embedding AS c_emb
                       FROM {src} WHERE vec_id < {n_centroids}),
        assign AS (SELECT vec_id, centroid_id, cos AS centroid_cosine,
                          embedding FROM (
                       SELECT e.vec_id, c.centroid_id, e.embedding,
                              {sql_cosine('e.embedding', 'c.c_emb')} AS cos,
                              ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {sql_cosine('e.embedding', 'c.c_emb')} DESC,
                                           c.centroid_id ASC) AS rnk
                       FROM {src} e CROSS JOIN cents c)
                   WHERE rnk = 1),
        dominated AS (
            SELECT DISTINCT a.vec_id
            FROM assign a JOIN assign b
              ON a.centroid_id = b.centroid_id
             AND a.vec_id != b.vec_id
             AND (b.centroid_cosine > a.centroid_cosine
                  OR (b.centroid_cosine = a.centroid_cosine
                      AND b.vec_id < a.vec_id))
             AND {sql_cosine('a.embedding', 'b.embedding')} >= {tau})
        SELECT s.vec_id, s.centroid_id, s.centroid_cosine,
               (d.vec_id IS NULL) AS keep
        FROM assign s LEFT JOIN dominated d ON d.vec_id = s.vec_id
    """


def kmeans_silhouette(
    embeddings: DataFrame,
    n_centroids: int = 8,
    centroids: DataFrame | None = None,
    quantum: int = 1_000_000_000,
) -> DataFrame:
    """Clustering-quality eval: per-cell SIMPLIFIED silhouette (the
    centroid-based O(n*k) variant of Rousseeuw 1987 that sklearn and
    every at-scale pipeline use -- exact silhouette is O(n^2) pairwise).
    With cosine distance ``d = 1 - cos``: ``a`` = distance to own
    (nearest) centroid, ``b`` = distance to second-nearest, ``s =
    (b - a) / max(a, b)`` in [0, 1]; higher = tighter, more separated
    cells.  The measured row a ``n_centroids`` re-tune of the
    IVF/SemDeDup cell count reads (the recall_at_k discipline applied to
    the clustering family).

    Plan: the centroid matrix rides as ONE broadcast data row (the
    ``_assign_literal`` convention), each vector scores k fold-cosines
    and takes the top-2 via ``array_sort`` -- a NARROW pass, zero
    shuffles before the #cells-sized aggregate.  Portability: top-2
    extraction is lexicographic struct order (ties to the smaller
    centroid id, the oracle's ``cos DESC, id ASC``); each per-row ``s``
    is floor-quantized to an integer at ``quantum`` so the per-cell sum
    is order-free, then ONE integer division + one exact scale-down
    yield the mean.

    Output: (centroid_id, n_vecs, s_sum_q, mean_silhouette).
    """
    cents = centroids if centroids is not None \
        else _seed_centroids(embeddings, n_centroids)
    rows = sorted(_collect_centroids(cents))
    cmat = embeddings.sparkSession.createDataFrame(
        [(
            [int(cid) for cid, _ in rows],
            [[float(x) for x in c] for _, c in rows],
        )],
        "c_ids array<bigint>, c_vecs array<array<double>>",
    ).select(
        # hoisted norms (the _assign_literal discipline)
        "c_ids",
        "c_vecs",
        F.transform(F.col("c_vecs"), lambda v: norm(v)).alias("c_ns"),
    )
    scored = F.transform(
        F.col("c_vecs"),
        lambda c, i: F.struct(
            (dot(F.col("embedding"), c)
             / (F.col("__en") * F.element_at(F.col("c_ns"), i + F.lit(1))))
            .alias("cos"),
            (-F.element_at(F.col("c_ids"), i + F.lit(1)))
            .cast("long")
            .alias("neg_id"),
        ),
    )
    top = F.array_sort(scored)
    picked = (
        embeddings.select(
            "vec_id", "embedding", norm(F.col("embedding")).alias("__en")
        )
        .crossJoin(F.broadcast(cmat))
        .select(
            "vec_id",
            F.element_at(top, -1).alias("b1"),
            F.element_at(top, -2).alias("b2"),
        )
        .select(
            (-F.col("b1.neg_id")).alias("centroid_id"),
            (F.lit(1.0) - F.col("b1.cos")).alias("da"),
            (F.lit(1.0) - F.col("b2.cos")).alias("db"),
        )
    )
    s = (F.col("db") - F.col("da")) / F.greatest("da", "db")
    s_q = F.when(
        F.greatest("da", "db") > 0, F.floor(s * F.lit(float(quantum)))
    ).otherwise(F.lit(0)).cast("long")
    per_cell = picked.select("centroid_id", s_q.alias("s_q")).groupBy(
        "centroid_id"
    ).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("s_q").alias("s_sum_q"),
    )
    return per_cell.select(
        "centroid_id",
        "n_vecs",
        "s_sum_q",
        (
            F.expr("s_sum_q div n_vecs").cast("double")
            / F.lit(float(quantum))
        ).alias("mean_silhouette"),
    )


def sql_kmeans_silhouette(
    n_centroids: int = 8,
    src: str = "embeddings",
    quantum: int = 1_000_000_000,
) -> str:
    """DuckDB twin of :func:`kmeans_silhouette` (rank-window top-2; same
    da/db/s expression order, same floor-quantization)."""
    return f"""
        WITH cents AS (SELECT vec_id AS centroid_id, embedding AS c_emb
                       FROM {src} WHERE vec_id < {n_centroids}),
        scored AS (SELECT e.vec_id, c.centroid_id,
                          {sql_cosine('e.embedding', 'c.c_emb')} AS cos,
                          ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {sql_cosine('e.embedding', 'c.c_emb')}
                                  DESC, c.centroid_id ASC) AS rnk
                   FROM {src} e CROSS JOIN cents c),
        picked AS (SELECT vec_id,
                          MAX(CASE WHEN rnk = 1 THEN centroid_id END)
                              AS centroid_id,
                          1.0 - MAX(CASE WHEN rnk = 1 THEN cos END) AS da,
                          1.0 - MAX(CASE WHEN rnk = 2 THEN cos END) AS db
                   FROM scored WHERE rnk <= 2 GROUP BY vec_id),
        quant AS (SELECT centroid_id,
                         CASE WHEN GREATEST(da, db) > 0 THEN
                             CAST(FLOOR(((db - da) / GREATEST(da, db))
                                        * {float(quantum)}) AS BIGINT)
                         ELSE 0 END AS s_q
                  FROM picked)
        SELECT centroid_id, COUNT(*) AS n_vecs,
               CAST(SUM(s_q) AS BIGINT) AS s_sum_q,
               CAST(CAST(SUM(s_q) AS BIGINT) // COUNT(*) AS DOUBLE)
                   / {float(quantum)} AS mean_silhouette
        FROM quant GROUP BY centroid_id
    """


# -- scalar quantization (SQ8) ---------------------------------------------

def sq8_stats(embeddings: DataFrame, d: int = 64) -> DataFrame:
    """Per-dimension (lo, hi) training statistics for SQ8 -- ONE corpus
    scan aggregating 2*d min/max expressions (map-side combined to a
    single row), i.e. O(d) MODEL STATE in the kmeans/PQ-codebook
    convention.  Returned as a 1-row (lo array, hi array) DataFrame to
    ride as a broadcast alongside the encode scan."""
    lo = F.array(*[
        F.min(F.element_at("embedding", j + 1).cast("double"))
        for j in range(d)
    ]).alias("lo")
    hi = F.array(*[
        F.max(F.element_at("embedding", j + 1).cast("double"))
        for j in range(d)
    ]).alias("hi")
    return embeddings.agg(lo, hi)


def _sq8_code(x: Column, lo: Column, hi: Column) -> Column:
    """One SQ8 code: floor-quantize x onto the 256-level [lo, hi] grid.

    Every op is an exactly-rounded IEEE -,*,/ evaluated in the SAME
    left-to-right order as the DuckDB twin, and floor is exact, so codes
    are bit-stable across engines/partitionings/retries.  A degenerate
    dimension (hi == lo) encodes as 0; the LEAST guard absorbs the
    x == hi boundary, where (x-lo)*255/(hi-lo) may round to 255.0 + ulp."""
    span = hi - lo
    c = F.floor(((x - lo) * F.lit(255.0)) / span).cast("long")
    return F.when(span == 0, F.lit(0).cast("long")).otherwise(
        F.least(F.greatest(c, F.lit(0).cast("long")), F.lit(255).cast("long"))
    )


def sq8_codes(
    embeddings: DataFrame, d: int = 64, stats: DataFrame | None = None
) -> DataFrame:
    """SQ8 scalar-quantization encoding (the FAISS ``SQ8`` index family):
    each float dimension compresses independently to one uint8 level on
    the corpus's per-dimension [min, max] grid -- 4x over float32 with
    no codebook training, the standard first rung of the ANN compression
    ladder below PQ (:func:`pq_codes` is 32x but needs a codebook).

    Plan: the stats row (O(d) model state, :func:`sq8_stats`) broadcasts;
    the encode itself is a NARROW one-pass ``transform`` over each
    vector's own array -- no shuffle, no join, so a 100 TB corpus encodes
    at scan speed and the 64-byte codes are what later queries touch.
    Pass ``stats`` to encode a NEW batch against a FROZEN serving grid
    (the ivfpq_encode_with_model convention).

    Output: (vec_id, codes array<bigint> of d values in [0, 255]).
    """
    st = stats if stats is not None else sq8_stats(embeddings, d)
    emb = _as_double(F.col("embedding"))
    codes = F.transform(
        emb,
        lambda x, i: _sq8_code(
            x,
            F.element_at(F.col("lo"), i + F.lit(1)),
            F.element_at(F.col("hi"), i + F.lit(1)),
        ),
    )
    return embeddings.crossJoin(F.broadcast(st)).select(
        "vec_id", codes.alias("codes")
    )


def knn_sq8(
    embeddings: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    d: int = 64,
) -> DataFrame:
    """Symmetric-distance top-k over SQ8 codes (FAISS SQ8 + SDC): both
    query and corpus quantize onto the same grid and the scan distance
    is a pure INTEGER sum of squared code deltas -- order-free BIGINT
    math, no float ops on the corpus side, bit-identical on every
    engine/partitioning/retry.

    Plan: one narrow encode pass (:func:`sq8_codes`), query codes are
    n_queries rows riding as a broadcast, the per-query top-k is the
    knn_bruteforce partitioned-window shape.  The corpus never shuffles
    until that rank; compose with IVF cells to prune candidates at real
    scale.  Output: (query_id, neighbor_id, rank, d2_sq8).
    """
    codes = sq8_codes(embeddings, d)
    qc = codes.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("codes").alias("q_codes")
    )
    d2 = _fold_sum(
        F.zip_with(
            F.col("codes"), F.col("q_codes"), lambda a, b: (a - b) * (a - b)
        )
    ).cast("long")
    scored = (
        codes.crossJoin(F.broadcast(qc))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", d2.alias("d2_sq8"))
    )
    return topk_by_group(
        scored, ["query_id"], [F.asc("d2_sq8"), F.asc("vec_id")], k
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        "rank",
        "d2_sq8",
    )


def _sql_sq8_ctes(d: int = 64, src: str = "embeddings") -> str:
    """Shared CTE block: per-dim stats + per-vector SQ8 codes."""
    return f"""
        dims AS (
            SELECT t.j,
                   MIN(CAST(embedding[t.j] AS DOUBLE)) AS lo,
                   MAX(CAST(embedding[t.j] AS DOUBLE)) AS hi
            FROM {src}, LATERAL unnest(range(1, {d + 1})) AS t(j)
            GROUP BY t.j),
        codes AS (
            SELECT e.vec_id,
                   list(CASE WHEN d.hi = d.lo THEN 0
                        ELSE LEAST(GREATEST(CAST(FLOOR(
                            ((CAST(e.embedding[t.j] AS DOUBLE) - d.lo)
                             * 255.0) / (d.hi - d.lo)) AS BIGINT),
                            0), 255) END ORDER BY t.j) AS codes
            FROM {src} e, LATERAL unnest(range(1, {d + 1})) AS t(j)
            JOIN dims d ON d.j = t.j
            GROUP BY e.vec_id)"""


def sql_sq8_codes(d: int = 64, src: str = "embeddings") -> str:
    """DuckDB twin of :func:`sq8_codes` (same grid, same float op
    order, same floor/clamp decisions); codes '_'-joined to match the
    gate query's primitive-column projection."""
    return f"""
        WITH {_sql_sq8_ctes(d, src)}
        SELECT vec_id, array_to_string(codes, '_') AS codes_str FROM codes
    """


def sql_knn_sq8(
    n_queries: int = 10, k: int = 5, d: int = 64, src: str = "embeddings"
) -> str:
    """DuckDB twin of :func:`knn_sq8` (integer SDC over shared codes)."""
    return f"""
        WITH {_sql_sq8_ctes(d, src)},
        scored AS (
            SELECT q.vec_id AS query_id, c.vec_id,
                   CAST(list_reduce(list_transform(
                       list_zip(c.codes, q.codes),
                       p -> (p[1] - p[2]) * (p[1] - p[2])),
                       (x, y) -> x + y) AS BIGINT) AS d2_sq8
            FROM codes c JOIN codes q ON q.vec_id < {n_queries}
            WHERE c.vec_id != q.vec_id),
        ranked AS (
            SELECT query_id, vec_id AS neighbor_id, d2_sq8,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY d2_sq8 ASC, vec_id ASC) AS rank
            FROM scored)
        SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, d2_sq8
        FROM ranked WHERE rank <= {k}
    """


# -- binary sign hashing (the 1-bit quantization rung) -----------------------

def binary_sign_codes(embeddings: DataFrame, d: int = 64) -> DataFrame:
    """1-bit sign quantization: dimension ``i`` contributes bit ``i`` iff
    ``embedding[i] > 0`` — 32x over float32, the cheapest rung of the
    ANN compression ladder (below SQ8/PQ), and the charikar-style code
    whose Hamming distance estimates angular distance.  Packed into
    ``d/32`` signed-long WORDS (``w0`` = dims 0-31, ``w1`` = 32-63) so
    the distance is two XOR+popcounts — integer ALU ops inside
    whole-stage codegen, no arrays, no UDF.

    Plan: NARROW one-pass projection, zero shuffles; at 100 TB the
    encode is a map over the corpus scan and the stored codes are 16
    bytes/vector."""
    assert d % 32 == 0, "d must pack into 32-bit words"
    e = F.col("embedding")
    words = []
    for wj in range(d // 32):
        acc = F.lit(0).cast("long")
        for i in range(32):
            acc = acc + F.when(
                F.element_at(e, wj * 32 + i + 1) > 0.0,
                F.lit(1 << i).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
        words.append(acc.alias(f"w{wj}"))
    return embeddings.select("vec_id", *words)


def knn_hamming(
    embeddings: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    d: int = 64,
) -> DataFrame:
    """Top-k by Hamming distance over the 1-bit sign codes: the binary
    pre-ranking stage of a hash-then-rerank pipeline (compare
    :func:`knn_sq8`'s 8-bit SDC).  Distance = sum of per-word
    ``bit_count(w_a XOR w_b)`` — pure integer expressions; the query
    side broadcasts, the corpus streams through one stage, ranking is
    one per-query window over k-bounded candidates.  Ties break by
    (hamming, vec_id) so the result is deterministic cross-engine."""
    codes = binary_sign_codes(embeddings, d)
    n_words = d // 32
    q = codes.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        *[F.col(f"w{j}").alias(f"q{j}") for j in range(n_words)],
    )
    pairs = codes.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
    ham = None
    for j in range(n_words):
        term = F.bit_count(
            F.col(f"w{j}").bitwiseXOR(F.col(f"q{j}"))
        ).cast("long")
        ham = term if ham is None else ham + term
    pairs = pairs.select(
        "query_id", F.col("vec_id").alias("neighbor_id"),
        ham.alias("hamming"),
    )
    # bounded top-k (r8 verdict item 5, What's wrong #2): the former
    # single row_number window shuffled corpus x n_queries rows into
    # n_queries partitions; the two-stage partial rank keeps the wide
    # exchange at scan parallelism and funnels only P*k survivors
    return topk_by_group(
        pairs, ["query_id"], [F.asc("hamming"), F.asc("neighbor_id")], k
    ).select("query_id", "neighbor_id", "rank", "hamming")


def knn_hamming_rerank(
    embeddings: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    r: int = 20,
    d: int = 64,
) -> DataFrame:
    """The production binary-then-rerank pipeline the sign-hash rung
    exists for (r8 verdict item 3): 1-bit Hamming top-R PREFILTER
    (16 B/vector codes, XOR+popcount integer ALU over the whole
    corpus) -> EXACT cosine rerank of ONLY the R candidates per query
    -> top-k (:func:`exact_rerank`).  Float math touches R*n_queries
    rows, never the corpus; recall vs exact search is MEASURED by
    :func:`recall_at_k`, not assumed.  One corpus pass for codes, one
    semi-join-shaped pass for candidate embeddings."""
    cand = knn_hamming(embeddings, n_queries=n_queries, k=r, d=d)
    return exact_rerank(embeddings, cand, n_queries, k)


def _sql_binary_codes_cte(d: int = 64, src: str = "embeddings") -> str:
    words = []
    for wj in range(d // 32):
        terms = " + ".join(
            f"(CASE WHEN embedding[{wj * 32 + i + 1}] > 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i in range(32)
        )
        words.append(f"CAST({terms} AS BIGINT) AS w{wj}")
    return f"bcodes AS (SELECT vec_id, {', '.join(words)} FROM {src})"


def sql_binary_sign_codes(d: int = 64, src: str = "embeddings") -> str:
    """DuckDB twin of :func:`binary_sign_codes`."""
    cols = ", ".join(f"w{j}" for j in range(d // 32))
    return f"WITH {_sql_binary_codes_cte(d, src)} SELECT vec_id, {cols} FROM bcodes"


def sql_knn_hamming(
    n_queries: int = 10, k: int = 5, d: int = 64, src: str = "embeddings"
) -> str:
    """DuckDB twin of :func:`knn_hamming` (same codes, same tie rule)."""
    ham = " + ".join(
        f"bit_count(xor(c.w{j}, q.w{j}))" for j in range(d // 32)
    )
    return f"""
        WITH {_sql_binary_codes_cte(d, src)},
        scored AS (
            SELECT q.vec_id AS query_id, c.vec_id,
                   CAST({ham} AS BIGINT) AS hamming
            FROM bcodes c JOIN bcodes q ON q.vec_id < {n_queries}
            WHERE c.vec_id != q.vec_id),
        ranked AS (
            SELECT query_id, vec_id AS neighbor_id, hamming,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY hamming ASC, vec_id ASC) AS rank
            FROM scored)
        SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, hamming
        FROM ranked WHERE rank <= {k}
    """


def sql_knn_hamming_rerank(
    n_queries: int = 10, k: int = 5, r: int = 20, d: int = 64,
    src: str = "embeddings",
) -> str:
    """DuckDB twin of :func:`knn_hamming_rerank` (same codes, same
    candidate set, same cosine tree, same tie rules)."""
    return sql_exact_rerank(sql_knn_hamming(n_queries, r, d, src), k, src)


# -- rotated PQ (the OPQ "random rotation" rung) -----------------------------

def rotated_embeddings(
    embeddings: DataFrame, d: int = 64, seed: int = 7
) -> DataFrame:
    """Dense ±1 rotation of the embedding space (the Achlioptas/JL sign
    matrix at k = d) -- the cheap stand-in for OPQ's learned rotation
    (Ge et al. 2013 motivates rotating before PQ: when a few dimensions
    carry most of the variance, PQ subspaces are unbalanced and codes
    waste bits; a dense sign mix spreads variance across all subspaces).
    Learned rotations need an SVD (not cross-engine portable); the
    seeded sign matrix is deterministic everywhere and keeps the whole
    rotated-PQ chain oracle-exact -- and whether it actually helps on a
    given corpus is MEASURED by :func:`pq_rotation_recall`, not assumed.

    Same narrow model-as-data plan as ``rp_project(mode='data')``: the
    matrix rides as ONE broadcast row, each output dim is a fold seeded
    with the first product, so values bit-match the left-associated
    literal sums the oracle renders.  Output: (vec_id, embedding
    array<double> of length d).
    """
    from .linalg import rp_signs

    signs = rp_signs(d, d, seed)
    model = embeddings.sparkSession.createDataFrame(
        [([[float(s) for s in row] for row in signs],)],
        "rot_signs array<array<double>>",
    )
    embd = _as_double(F.col("embedding"))

    def prods(row):
        return F.zip_with(embd, row, lambda x, s: x * s)

    # ONE nested transform over the sign rows instead of d unrolled fold
    # columns: plan size O(1) in d (A/B: bitwise-equal values, slightly
    # faster -- higher-order functions are interpreted, so the win is
    # plan/codegen size, not arithmetic).  The fold is the
    # single-reference first-seeded form: the former slice/element_at
    # seed referenced prods(row) twice and interpreted HOFs do no CSE,
    # so every rotated dim multiplied the row out twice (guide #1.2) --
    # A/B at sf0.1: rotated pass 3.5 s -> 1.9 s warm, bit-identical.
    from .linalg import fold_sum_first_seeded

    out = F.transform(F.col("rot_signs"),
                      lambda row: fold_sum_first_seeded(prods(row)))
    return embeddings.crossJoin(F.broadcast(model)).select(
        "vec_id", out.alias("embedding")
    )


def sql_rotated_src(d: int = 64, seed: int = 7,
                    src: str = "embeddings") -> str:
    """The rotated corpus as a subquery string usable wherever the PQ
    twins take a ``src`` (same literal sign sums as the Spark fold)."""
    from .linalg import rp_signs

    signs = rp_signs(d, d, seed)
    exprs = []
    for j in range(d):
        terms = [
            ("" if s > 0 else "-") + f"CAST(embedding[{i + 1}] AS DOUBLE)"
            for i, s in enumerate(signs[j])
        ]
        exprs.append("(" + " + ".join(terms) + ")")
    arr = "[" + ", ".join(exprs) + "]"
    return f"(SELECT vec_id, {arr} AS embedding FROM {src})"


def knn_pq_rotated(
    embeddings: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    d: int = 64,
    seed: int = 7,
) -> DataFrame:
    """PQ-ADC top-k in the ±1-rotated space: rotate (narrow), then the
    whole verified PQ chain (codebook train, encode, integer ADC rank)
    runs unchanged on the rotated relation.  Output schema matches
    knn_pq_adc."""
    return knn_pq_adc(
        rotated_embeddings(embeddings, d, seed), n_queries, k, m, ksub, d
    )


def sql_knn_pq_rotated(
    n_queries: int = 10,
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    d: int = 64,
    seed: int = 7,
    src: str = "embeddings",
) -> str:
    """DuckDB twin of :func:`knn_pq_rotated`."""
    return sql_knn_pq_adc(
        n_queries, k, m, ksub, d, src=sql_rotated_src(d, seed, src)
    )


def pq_rotation_recall(
    embeddings: DataFrame,
    n_queries: int = 10,
    k: int = 3,
    m: int = 8,
    ksub: int = 16,
    d: int = 64,
    seed: int = 7,
) -> DataFrame:
    """Does rotation help PQ on THIS corpus?  Per query: recall@k of
    plain PQ-ADC and of rotated PQ-ADC, both against the exact cosine
    top-k in the ORIGINAL space -- the measured row that decides whether
    the rotation ships (two :func:`recall_at_k` rows; note the rotated
    ranking also absorbs the sign matrix's JL distortion, which is
    exactly why it must be measured, not assumed)."""
    plain = recall_at_k(
        embeddings, knn_pq_adc(embeddings, n_queries, k, m, ksub, d),
        n_queries, k,
    ).toDF("query_id", "n_hits_pq", "recall_pq")
    rot = recall_at_k(
        embeddings,
        knn_pq_rotated(embeddings, n_queries, k, m, ksub, d, seed),
        n_queries, k,
    ).toDF("query_id", "n_hits_rot", "recall_rotated")
    return plain.join(rot, "query_id").select(
        "query_id", "n_hits_pq", "n_hits_rot", "recall_pq", "recall_rotated"
    )


def sql_pq_rotation_recall(
    n_queries: int = 10,
    k: int = 3,
    m: int = 8,
    ksub: int = 16,
    d: int = 64,
    seed: int = 7,
    src: str = "embeddings",
) -> str:
    """DuckDB twin of :func:`pq_rotation_recall`."""
    pq = sql_knn_pq_adc(n_queries, k, m, ksub, d, src=src)
    rot = sql_knn_pq_rotated(n_queries, k, m, ksub, d, seed, src)
    return f"""
        WITH hp AS ({sql_recall_at_k(pq, n_queries, k, src)}),
        hr AS ({sql_recall_at_k(rot, n_queries, k, src)})
        SELECT query_id, hp.n_hits AS n_hits_pq, hr.n_hits AS n_hits_rot,
               hp.recall AS recall_pq, hr.recall AS recall_rotated
        FROM hp JOIN hr USING (query_id)
    """
