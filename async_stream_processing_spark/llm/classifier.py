"""Distributed training of a linear document-quality classifier.

The curation pipelines the reference's users run (CCNet, LLaMA-style
quality filtering) train a cheap LINEAR classifier over hashed n-gram
features and score the whole corpus with it.  This module is that shape
as bounded-round Spark jobs:

* features: ``llm.importance.hashed_ngram_features`` (unigram+bigram
  counts hashed into ``n_buckets`` -- the DSIR feature map);
* labels: the Gopher quality gate (``llm.curation.gopher_quality``
  ``keep`` flag), the bootstrap-from-rules pattern -- train a smooth
  scorer from a rule-based teacher, then score at a fraction of the
  rules' cost (one broadcast dot product per doc);
* trainer: BATCH PERCEPTRON -- per round, every misclassified document
  adds ``y * x`` to the weight vector.  All arithmetic is INTEGER
  (counts, weights, margins), so training replays bit-identically in
  any engine and the oracle unrolls the rounds as a CTE chain (the
  pagerank/k-means discipline).  Gradient methods would need
  exp/log -- not portable; the perceptron is the classical
  integer-exact member of the family.

Scale posture: the weight vector is O(n_buckets) DRIVER-HELD model
state re-broadcast each round as data (the k-means lesson: model as
data, never plan literals); each round is one broadcast join + two
map-side-combined aggregations over the feature relation; rounds are
bounded by ``n_rounds``.  Nothing corpus-sized ever crosses the driver
boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .curation import gopher_quality
from .importance import hashed_ngram_features


def _labels(docs: DataFrame) -> DataFrame:
    """(doc_id, y): +1 for Gopher-keep, -1 for drop."""
    return gopher_quality(docs).select(
        "doc_id",
        F.when(F.col("keep"), F.lit(1)).otherwise(F.lit(-1))
        .cast("long")
        .alias("y"),
    )


def perceptron_train_weights(
    docs: DataFrame, n_buckets: int = 64, n_rounds: int = 3
) -> list[int]:
    """Run the bounded-round batch-perceptron loop; return the final
    integer weight vector (length ``n_buckets``) -- driver model state.

    Round semantics (mirrored exactly by the unrolled SQL oracle):
    ``w_0 = 0``; each round every doc with ``y * <w, x> <= 0`` is
    misclassified (round 1 therefore updates on ALL docs), and
    ``w += sum_misclassified(y * x)``.  Sums run in decimal(38,0) so a
    100 TB feature relation cannot overflow the aggregation; the
    resulting weights are asserted back into int64 on collect.
    """
    spark = docs.sparkSession
    fx = (
        hashed_ngram_features(docs, n_buckets=n_buckets)
        .select("doc_id", "bucket", "count")
        .join(_labels(docs), "doc_id")
        .localCheckpoint(eager=True)  # consumed 2x per round x n_rounds
    )
    w = [0] * n_buckets
    for _ in range(n_rounds):
        w_rel = spark.createDataFrame(
            [(b, int(wb)) for b, wb in enumerate(w)], "bucket long, w long"
        )
        margins = (
            fx.join(F.broadcast(w_rel), "bucket")
            .groupBy("doc_id", "y")
            .agg(
                F.sum(
                    (F.col("count") * F.col("w")).cast("decimal(38,0)")
                ).alias("margin")
            )
        )
        mis = margins.filter(
            F.col("y").cast("decimal(38,0)") * F.col("margin") <= 0
        ).select("doc_id")
        upd = (
            fx.join(mis, "doc_id", "left_semi")
            .groupBy("bucket")
            .agg(
                F.sum(
                    (F.col("y") * F.col("count")).cast("decimal(38,0)")
                ).alias("dw")
            )
            .collect()
        )
        for r in upd:
            w[r["bucket"]] = int(int(w[r["bucket"]]) + int(r["dw"]))
    return w


def perceptron_train(
    docs: DataFrame, n_buckets: int = 64, n_rounds: int = 3
) -> DataFrame:
    """The trained model as a relation: (bucket, weight) for every
    bucket 0..n_buckets-1 (zeros included -- deterministic shape)."""
    spark = docs.sparkSession
    w = perceptron_train_weights(docs, n_buckets, n_rounds)
    return spark.createDataFrame(
        [(b, wb) for b, wb in enumerate(w)], "bucket long, weight long"
    )


def perceptron_score(
    docs: DataFrame, n_buckets: int = 64, n_rounds: int = 3
) -> DataFrame:
    """Score every document with the trained weights -- the
    whole-corpus scoring pass that makes the classifier worth training
    (the Gopher rules re-derive token statistics per doc; the
    classifier is one weighted fold).  Scoring itself is
    :func:`perceptron_score_narrow` -- a stateless per-row expression,
    no second feature relation, no join (the per-row multiset fold
    equals the sparse bucket-count dot product by linearity).
    Output: (doc_id, margin, pred, y, correct)."""
    w = perceptron_train_weights(docs, n_buckets, n_rounds)
    return perceptron_score_narrow(docs, w, n_buckets)


def _sql_perceptron_ctes(
    src: str, n_buckets: int, n_rounds: int
) -> tuple[str, str]:
    """(cte_text, final_weight_cte_name): the training loop unrolled as
    a DuckDB CTE chain -- round 1 updates on every doc (w_0 = 0 makes
    every margin 0), later rounds on ``y * margin <= 0``.  Every sum is
    CAST to BIGINT (DuckDB SUM(BIGINT) yields HUGEINT)."""
    from .curation import sql_gopher_quality
    from .importance import sql_hashed_ngram_features

    parts = [
        f"""fx AS (
            SELECT f.doc_id, f.bucket, f."count", l.y
            FROM ({sql_hashed_ngram_features(src, n_buckets)}) f
            JOIN (SELECT doc_id,
                         CASE WHEN keep THEN CAST(1 AS BIGINT)
                              ELSE CAST(-1 AS BIGINT) END AS y
                  FROM ({sql_gopher_quality(src)}) gq) l
              USING (doc_id))""",
        f"""allb AS (SELECT CAST(unnest(generate_series(0, {n_buckets - 1}))
                           AS BIGINT) AS bucket)""",
        """u1 AS (SELECT bucket, CAST(SUM(y * "count") AS BIGINT) AS dw
                 FROM fx GROUP BY bucket)""",
        """w1 AS (SELECT a.bucket, CAST(COALESCE(u1.dw, 0) AS BIGINT) AS w
                 FROM allb a LEFT JOIN u1 USING (bucket))""",
    ]
    for r in range(2, n_rounds + 1):
        parts += [
            f"""m{r} AS (SELECT doc_id, y,
                           CAST(SUM("count" * w{r - 1}.w) AS BIGINT) AS margin
                    FROM fx JOIN w{r - 1} USING (bucket)
                    GROUP BY doc_id, y)""",
            f"""u{r} AS (SELECT bucket, CAST(SUM(y * "count") AS BIGINT) AS dw
                    FROM fx
                    WHERE doc_id IN (SELECT doc_id FROM m{r}
                                     WHERE y * margin <= 0)
                    GROUP BY bucket)""",
            f"""w{r} AS (SELECT w{r - 1}.bucket,
                           CAST(w{r - 1}.w + COALESCE(u{r}.dw, 0) AS BIGINT)
                               AS w
                    FROM w{r - 1} LEFT JOIN u{r} USING (bucket))""",
        ]
    return ",\n        ".join(parts), f"w{n_rounds}"


def sql_perceptron_train(
    src: str = "documents", n_buckets: int = 64, n_rounds: int = 3
) -> str:
    """DuckDB twin of :func:`perceptron_train`."""
    ctes, wfin = _sql_perceptron_ctes(src, n_buckets, n_rounds)
    return f"""
        WITH {ctes}
        SELECT bucket, w AS weight FROM {wfin}
    """


def sql_perceptron_score(
    src: str = "documents", n_buckets: int = 64, n_rounds: int = 3
) -> str:
    """DuckDB twin of :func:`perceptron_score`."""
    ctes, wfin = _sql_perceptron_ctes(src, n_buckets, n_rounds)
    return f"""
        WITH {ctes},
        sm AS (SELECT doc_id, y,
                      CAST(SUM("count" * {wfin}.w) AS BIGINT) AS margin
               FROM fx JOIN {wfin} USING (bucket)
               GROUP BY doc_id, y)
        SELECT doc_id, margin,
               CAST(CASE WHEN margin > 0 THEN 1 ELSE -1 END AS BIGINT)
                   AS pred,
               y,
               (CASE WHEN margin > 0 THEN 1 ELSE -1 END) = y AS correct
        FROM sm
    """


def perceptron_score_narrow(
    docs: DataFrame, weights: list[int], n_buckets: int = 64
) -> DataFrame:
    """Score documents with a TRAINED weight vector as a pure per-row
    expression -- the deployment half of train-offline / score-online:
    margin = fold over the doc's own gram array of
    ``w[hash(gram) % B]``, the label comes from the inline Gopher keep
    expression, and nothing aggregates -- so scoring is STATELESS and
    runs unchanged on a STREAMING relation in append mode
    (score-on-ingest, zero state).  The per-row multiset fold equals
    the sparse bucket-count dot product by linearity, so the batch
    :func:`perceptron_score` oracle applies verbatim.  The
    O(n_buckets) weight vector rides as a literal -- at 64 longs
    codegen handles it; a large model would ship as a broadcast data
    row (the rp_project lesson).  Output schema matches
    ``perceptron_score``: (doc_id, margin, pred, y, correct)."""
    from ..functions.hashing import stable_hash60
    from .curation import gopher_keep_expr
    from .importance import _grams

    w_arr = F.array(*[F.lit(int(x)).cast("long") for x in weights])
    margin = F.aggregate(
        F.transform(
            _grams("text"),
            lambda g: F.element_at(
                w_arr, (stable_hash60(g) % n_buckets + 1).cast("int")
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pred = (
        F.when(margin > 0, F.lit(1)).otherwise(F.lit(-1)).cast("long")
    )
    y = (
        F.when(gopher_keep_expr("text"), F.lit(1))
        .otherwise(F.lit(-1))
        .cast("long")
    )
    return docs.select(
        "doc_id",
        margin.alias("margin"),
        pred.alias("pred"),
        y.alias("y"),
        (pred == y).alias("correct"),
    )


def perceptron_eval(
    docs: DataFrame,
    n_buckets: int = 64,
    n_rounds: int = 3,
    holdout_mod: int = 5,
) -> DataFrame:
    """Held-out eval of the quality classifier -- the MEASURE row that
    decides whether the trained scorer ships (the recall_at_k discipline
    applied to the classifier family): train on ``doc_id % holdout_mod
    != 0``, score the held-out rest, report the confusion counts and
    precision / recall / accuracy against the Gopher teacher labels.

    The holdout gate is the same deterministic doc_id split the
    incremental-dedup queries use -- a stand-in for the hash-gated
    train_val_split at eval time (simple enough to inline into the
    unrolled training oracle).  Scoring the held-out docs is the
    stateless narrow fold (:func:`perceptron_score_narrow`), so eval
    costs one training run on 4/5 of the corpus plus one scan of the
    rest; the three ratios are single IEEE divisions of exact integer
    counts, NULL on zero denominators in both engines.

    Output: one row (n_eval, tp, fp, fn, tn, precision, recall,
    accuracy)."""
    train = docs.filter(F.col("doc_id") % holdout_mod != 0)
    w = perceptron_train_weights(train, n_buckets, n_rounds)
    scored = perceptron_score_narrow(
        docs.filter(F.col("doc_id") % holdout_mod == 0), w, n_buckets
    )
    c = scored.agg(
        F.count(F.lit(1)).alias("n_eval"),
        F.sum(((F.col("pred") == 1) & (F.col("y") == 1)).cast("long"))
        .alias("tp"),
        F.sum(((F.col("pred") == 1) & (F.col("y") == -1)).cast("long"))
        .alias("fp"),
        F.sum(((F.col("pred") == -1) & (F.col("y") == 1)).cast("long"))
        .alias("fn"),
        F.sum(((F.col("pred") == -1) & (F.col("y") == -1)).cast("long"))
        .alias("tn"),
    )
    return c.select(
        "n_eval", "tp", "fp", "fn", "tn",
        F.when(
            F.col("tp") + F.col("fp") > 0,
            F.col("tp").cast("double")
            / (F.col("tp") + F.col("fp")).cast("double"),
        ).alias("precision"),
        F.when(
            F.col("tp") + F.col("fn") > 0,
            F.col("tp").cast("double")
            / (F.col("tp") + F.col("fn")).cast("double"),
        ).alias("recall"),
        F.when(
            F.col("n_eval") > 0,
            (F.col("tp") + F.col("tn")).cast("double")
            / F.col("n_eval").cast("double"),
        ).alias("accuracy"),
    )


def sql_perceptron_eval(
    src: str = "documents",
    n_buckets: int = 64,
    n_rounds: int = 3,
    holdout_mod: int = 5,
) -> str:
    """DuckDB twin of :func:`perceptron_eval`: the training chain
    unrolled over the TRAIN split, final weights applied to the
    held-out split's features, confusion counts aggregated."""
    train_src = (
        f"(SELECT * FROM {src} WHERE doc_id % {holdout_mod} != 0)"
    )
    eval_src = (
        f"(SELECT * FROM {src} WHERE doc_id % {holdout_mod} = 0)"
    )
    from .curation import sql_gopher_quality
    from .importance import sql_hashed_ngram_features

    ctes, wfin = _sql_perceptron_ctes(train_src, n_buckets, n_rounds)
    return f"""
        WITH {ctes},
        fe AS (
            SELECT f.doc_id, f.bucket, f."count", l.y
            FROM ({sql_hashed_ngram_features(eval_src, n_buckets)}) f
            JOIN (SELECT doc_id,
                         CASE WHEN keep THEN CAST(1 AS BIGINT)
                              ELSE CAST(-1 AS BIGINT) END AS y
                  FROM ({sql_gopher_quality(eval_src)}) gq) l
              USING (doc_id)),
        sm AS (SELECT doc_id, y,
                      CAST(SUM("count" * {wfin}.w) AS BIGINT) AS margin
               FROM fe JOIN {wfin} USING (bucket)
               GROUP BY doc_id, y),
        conf AS (SELECT COUNT(*) AS n_eval,
                        CAST(SUM(CASE WHEN margin > 0 AND y = 1
                                 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                        CAST(SUM(CASE WHEN margin > 0 AND y = -1
                                 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                        CAST(SUM(CASE WHEN margin <= 0 AND y = 1
                                 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
                        CAST(SUM(CASE WHEN margin <= 0 AND y = -1
                                 THEN 1 ELSE 0 END) AS BIGINT) AS tn
                 FROM sm)
        SELECT n_eval, tp, fp, fn, tn,
               CASE WHEN tp + fp > 0 THEN
                   CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END
                   AS precision,
               CASE WHEN tp + fn > 0 THEN
                   CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END
                   AS recall,
               CASE WHEN n_eval > 0 THEN
                   CAST(tp + tn AS DOUBLE) / CAST(n_eval AS DOUBLE) END
                   AS accuracy
        FROM conf
    """
