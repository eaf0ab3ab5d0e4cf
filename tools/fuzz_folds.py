"""Differential fuzzer for the bounded-state streaming folds.

The round-9 incremental folds (``streaming/folds.py``) carry O(1)
sufficient statistics per key through ``applyInPandasWithState``; their
exactness contract is "bit-identical to the batch closed-form fold over
the (ts, event_id)-sorted event list".  The five gated queries pin five
parameterizations; this fuzzer is the sequence-level adversary for the
MACHINERY: each case draws a random

* fold kind        — cusum / ewma / rsi / ols / drawdown,
* fold parameters  — slack/threshold, EWMA weights, Wilder period,
* input subset     — a random predicate over the events table,
* delivery shape   — 2..4 time-split files (micro-batch count),

replays the subset through the streaming engine, and compares the final
per-key integer statistics EXACTLY against an independent batch twin
built from ``array_sort(collect_list(...))`` + ``F.aggregate`` (the
round-8 full-history formulation, kept here as the oracle).  Any
drift in cross-batch state carry, batch-boundary ordering, or the
Python/Spark integer-division dialects fails the case.

Usage: python tools/fuzz_folds.py [n_cases] [seed] [sf_dir]
Also driven by tests/test_streaming.py with pinned seeds.
"""

from __future__ import annotations

import random
import sys
import tempfile

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from async_stream_processing_spark.streaming.folds import (  # noqa: E402
    BOLLINGER_K,
)

CENTS = "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"


def _arr(x_alias: str):
    return F.array_sort(
        F.collect_list(F.struct("ts", "event_id", F.expr(CENTS).alias(x_alias)))
    )


def _batch_cusum(df, slack: int, th: int):
    agg = df.groupBy("user_id").agg(_arr("x").alias("arr"))
    first = F.element_at(F.col("arr"), 1)["x"]
    zero = F.lit(0).cast("long")
    init = F.struct(
        zero.alias("c"), zero.alias("m"), zero.alias("smax"),
        zero.alias("n_over"), F.lit(None).cast("long").alias("alarm"),
    )

    def step(acc, e):
        c2 = acc["c"] + (e["x"] - first - F.lit(slack).cast("long"))
        m2 = F.least(acc["m"], c2)
        sv = c2 - m2
        over = sv > F.lit(th).cast("long")
        return F.struct(
            c2.alias("c"), m2.alias("m"),
            F.greatest(acc["smax"], sv).alias("smax"),
            (acc["n_over"] + F.when(over, F.lit(1).cast("long"))
             .otherwise(zero)).alias("n_over"),
            F.least(acc["alarm"], F.when(over, e["event_id"])).alias("alarm"),
        )

    folded = F.aggregate(F.col("arr"), init, step)
    return agg.select(
        "user_id", folded["smax"].alias("smax"),
        folded["n_over"].alias("n_over"), folded["alarm"].alias("alarm"),
        F.size("arr").cast("long").alias("n"),
    )


def _batch_ewma(df, w_old: int, w_new: int, den: int):
    agg = df.groupBy("user_id").agg(_arr("x").alias("arr"))
    xs = F.transform(F.col("arr"), lambda a: a["x"])

    def step(acc, v):
        y = acc * w_old + v * w_new
        return ((y - y % den) / den).cast("long")

    ew = F.aggregate(
        F.slice(xs, 2, F.greatest(F.size(xs) - 1, F.lit(0))),
        F.element_at(xs, 1), step,
    )
    return agg.select(
        "user_id", ew.alias("ew"),
        F.size("arr").cast("long").alias("n"),
    )


def _batch_rsi(df, period: int):
    agg = df.groupBy("user_id").agg(_arr("y").alias("arr"))
    ys = F.transform(F.col("arr"), lambda a: a["y"])
    n = F.size(ys)
    diffs = F.transform(
        F.slice(ys, 2, F.greatest(n - 1, F.lit(0))),
        lambda v, i: v - F.element_at(ys, i + 1),
    )
    gs = F.transform(diffs, lambda d: F.greatest(d, F.lit(0)) * 1_000_000)
    ls = F.transform(diffs, lambda d: F.greatest(-d, F.lit(0)) * 1_000_000)

    def wilder(xs):
        def step(acc, v):
            t = acc * (period - 1) + v
            return ((t - t % period) / period).cast("long")

        return F.aggregate(
            F.slice(xs, 2, F.greatest(F.size(xs) - 1, F.lit(0))),
            F.element_at(xs, 1), step,
        )

    return agg.select(
        "user_id", F.size(diffs).cast("long").alias("n_diffs"),
        wilder(gs).alias("ag"), wilder(ls).alias("al"),
    ).filter(F.col("n_diffs") >= 1)


def _batch_ols(df):
    agg = df.groupBy("user_id").agg(_arr("y").alias("arr"))
    ys = F.transform(F.col("arr"), lambda a: a["y"])
    n = F.size(ys).cast("long")
    zero = F.lit(0).cast("long")
    sy = F.aggregate(ys, zero, lambda acc, v: acc + v)
    syy = F.aggregate(ys, zero, lambda acc, v: acc + v * v)
    sxy = F.aggregate(
        F.zip_with(ys, F.sequence(F.lit(1).cast("long"), n),
                   lambda yv, xv: xv * yv),
        zero, lambda acc, v: acc + v,
    )
    return agg.select(
        "user_id", n.alias("n"), sy.alias("sy"), sxy.alias("sxy"),
        syy.alias("syy"),
    )


def _batch_bollinger(df, n_rows: int):
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id") \
        .rowsBetween(-(n_rows - 1), 0)
    x = F.expr(CENTS)
    return df.select(
        "user_id", "ts", "event_id",
        F.count(F.lit(1)).over(w).cast("long").alias("n"),
        F.sum(x).over(w).cast("long").alias("sx_c"),
        F.sum(x * x).over(w).cast("long").alias("sxx_c4"),
    )


def _batch_corr(df, n_rows: int):
    from pyspark.sql import Window

    wl = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w = wl.rowsBetween(-(n_rows - 1), 0)
    x = F.expr(CENTS)
    lagged = df.withColumn("__y", F.lag(x, 1).over(wl))
    y = F.col("__y")
    return lagged.select(
        "user_id", "ts", "event_id",
        F.count("__y").over(w).cast("long").alias("n"),
        F.coalesce(F.sum(F.when(y.isNotNull(), x)).over(w), F.lit(0))
        .cast("long").alias("sx_c"),
        F.coalesce(F.sum(y).over(w), F.lit(0)).cast("long").alias("sy_c"),
        F.coalesce(F.sum(x * y).over(w), F.lit(0))
        .cast("long").alias("sxy_c4"),
        F.coalesce(F.sum(F.when(y.isNotNull(), x * x)).over(w), F.lit(0))
        .cast("long").alias("sxx_c4"),
        F.coalesce(F.sum(y * y).over(w), F.lit(0))
        .cast("long").alias("syy_c4"),
    )


def _batch_drawdown(df):
    agg = df.groupBy("user_id").agg(_arr("x").alias("arr"))
    xs = F.transform(F.col("arr"), lambda a: a["x"])
    first = F.element_at(xs, 1)
    init = F.struct(first.alias("eq"), first.alias("peak"),
                    F.lit(0).cast("long").alias("dd"))

    def step(acc, v):
        eq2 = acc["eq"] + v
        peak2 = F.greatest(acc["peak"], eq2)
        return F.struct(eq2.alias("eq"), peak2.alias("peak"),
                        F.greatest(acc["dd"], peak2 - eq2).alias("dd"))

    folded = F.aggregate(
        F.slice(xs, 2, F.greatest(F.size(xs) - 1, F.lit(0))), init, step)
    return agg.select(
        "user_id", folded["eq"].alias("eq"), folded["peak"].alias("peak"),
        folded["dd"].alias("dd"), F.size(xs).cast("long").alias("n"),
    )


PREDS = [
    ("all", "true"),
    ("low_value", "value < 80"),
    ("high_value", "value >= 20"),
    ("clicks_views", "event_type IN ('click', 'view')"),
    ("mod3", "event_id % 3 != 1"),
    ("mod7", "event_id % 7 != 0"),
]


def _case(kind: str, rng: random.Random, df):
    """Draw ``kind``'s kernel parameters; return (kernel kw, label,
    batch oracle, projection of the drained final rows onto it)."""
    if kind == "cusum":
        slack = rng.choice([0, 10, 50, 200])
        th = rng.choice([500, 1000, 2000, 5000])
        return ({"slack": slack, "threshold": th},
                f"cusum(slack={slack},th={th})",
                _batch_cusum(df, slack, th),
                lambda g: g.select("user_id", "smax", "n_over", "alarm", "n"))
    if kind == "ewma":
        w_old, w_new, den = rng.choice(
            [(7, 3, 10), (9, 1, 10), (1, 1, 2), (3, 1, 4)])
        return ({"w_old": w_old, "w_new": w_new, "den": den},
                f"ewma({w_old},{w_new},{den})",
                _batch_ewma(df, w_old, w_new, den),
                lambda g: g.select("user_id", "ew", "n"))
    if kind == "rsi":
        period = rng.choice([3, 7, 14, 21])
        return ({"period": period}, f"rsi(period={period})",
                _batch_rsi(df, period).select(
                    "user_id", "n_diffs", "ag", "al"),
                lambda g: g.filter(F.col("n") >= 2).select(
                    "user_id", (F.col("n") - 1).alias("n_diffs"),
                    "ag", "al"))
    if kind == "ols":
        return ({}, "ols", _batch_ols(df),
                lambda g: g.select("user_id", "n", "sy", "sxy", "syy"))
    if kind == "drawdown":
        return ({}, "drawdown", _batch_drawdown(df),
                lambda g: g.select("user_id", "eq", "peak", "dd", "n"))
    # per-ROW series: compare the whole rolling output
    sums = (["n", "sx_c", "sxx_c4"] if kind == "bollinger" else
            ["n", "sx_c", "sy_c", "sxy_c4", "sxx_c4", "syy_c4"])
    batch = _batch_bollinger if kind == "bollinger" else _batch_corr
    return ({}, f"{kind}(k={BOLLINGER_K})",
            batch(df, BOLLINGER_K).select("user_id", "event_id", *sums),
            lambda g: g.select("user_id", "event_id", *sums))


def run_case(spark, rng: random.Random, sf_dir: str) -> str:
    from pyspark.sql import Window

    from async_stream_processing_spark.sources.parquet import load_table
    from async_stream_processing_spark.streaming.folds import (
        FOLD_KINDS,
        final_rows,
        fold_stream,
    )
    from async_stream_processing_spark.streaming.reorder import (
        reordered_fold_stream,
    )
    from async_stream_processing_spark.streaming.replay import (
        drain,
        land_batches,
        replay_stream,
    )

    pred_name, pred = rng.choice(PREDS)
    n_parts = rng.choice([2, 3, 4])
    kind = rng.choice(list(FOLD_KINDS))
    # delivery shape: ordered replay drives the zero-buffer folds;
    # jittered replay (±2 h, < half the 5 h watermark delay) drives the
    # reorder-buffered twins -- SAME batch oracles for both
    shuffled = rng.random() < 0.5
    delay = "18000 seconds"
    df = load_table(spark, sf_dir, "events").filter(F.expr(pred))
    # n_parts files, one micro-batch each: strict (ts, event_id) order
    # across files, or bucketed by a deterministically JITTERED event
    # time so consecutive micro-batches interleave out of order
    key = F.col("ts")
    if shuffled:
        j_us = 7200 * 1_000_000
        jit = (F.pmod(F.xxhash64("event_id"), F.lit(2 * j_us + 1))
               - F.lit(j_us))
        key = F.unix_micros(F.col("ts")) + jit
    bucketed = df.withColumn(
        "__b", F.ntile(n_parts).over(Window.orderBy(key, "event_id")) - 1
    )
    with tempfile.TemporaryDirectory(prefix="asp_foldfuzz_",
                                     ignore_cleanup_errors=True) as tmp:
        d = land_batches(bucketed, "__b", n_parts, tmp)
        src = replay_stream(spark, d, spark.read.parquet(d).schema,
                            max_files_per_trigger=1)
        kw, label, want, project = _case(kind, rng, df)
        s = src.select("ts", "event_id", "user_id",
                       F.expr(CENTS).alias(FOLD_KINDS[kind].value))
        if shuffled:
            folded = reordered_fold_stream(s, kind, delay=delay, **kw)
        else:
            folded = fold_stream(s, kind, **kw)
        got = project(final_rows(drain(folded, output_mode="append"),
                                 kind, reordered=shuffled))
        g = {tuple(r) for r in got.collect()}
    w = {tuple(r) for r in want.collect()}
    assert g == w, (
        f"{label} pred={pred_name} parts={n_parts}: "
        f"extra={list(g - w)[:3]} missing={list(w - g)[:3]}"
    )
    shape = "shuffled" if shuffled else "ordered"
    return (f"{label:24s} pred={pred_name:12s} parts={n_parts} "
            f"{shape:8s} keys={len(w)}")


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 20260816
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.001"

    from async_stream_processing_spark import get_spark

    spark = get_spark("foldfuzz", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    failures = 0
    for i in range(n):
        rng = random.Random(seed + i)
        try:
            print("ok  ", run_case(spark, rng, sf_dir), flush=True)
        except AssertionError as e:
            failures += 1
            print(f"CASE {i} FAILED: {e}", flush=True)
    print(f"PASS: {n - failures}/{n} (stream folds, seed {seed})")
    if failures:
        sys.exit(1)


if __name__ == "__main__":
    main()
