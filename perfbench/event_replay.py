"""``event_replay``: batch past-replay of a Zipf-keyed event log.

One unit is one pass over a freshly landed log: the reference's four
computation classes, each built from the package's operators and
forced through a ``noop`` sink --

* VWAP over a 2-minute sliding window plus cumulative volume
  (``operators.windows``),
* trade PnL marked at the as-of quote (``operators.positions`` over
  ``operators.asof``),
* 30-minute-gap sessionization (``operators.analytics``),
* 5-minute OHLC bars (``operators.windows``).

It loads the JVM sort, shuffle and window path with no Python workers,
no streaming and no ``llm``, so it is the bypass workload for streaming
and curation changes.

Each pass is checked against the registry's DuckDB oracle for the same
query on the same input: row count and integer column sums, observed
inside the timed action with ``Dataset.observe`` (no second pass).  One
warm-up input is also compared row by row, bit-exact, after timing.
"""

from __future__ import annotations

import shutil
import time

import duckdb
from pyspark.sql import Observation
from pyspark.sql import functions as F

import gen
from common import check, median

#: events per timed pass (1.5x the registry's sf0.1 events table)
EVENTS = 150_000
#: users drawn Zipf(0.8): skewed, but no key so hot that which shuffle
#: partition it hashes to (a property of the seed) sets the pass time
USERS = 20_000
ZIPF_S = 0.8
#: one small pass pays compilation; full-size passes then warm the JIT
#: (with one, the first timed pass still ran ~30 % slow)
WARMUP_EVENTS = 20_000
WARMUP_FULL_PASSES = 2
#: nominal seconds per pass on a 4-core host: ``--seconds`` buys
#: ``seconds / PASS_S`` passes, the same count on every run
PASS_S = 2.5
MIN_PASSES = 5

# volume := k + 1 from the props blob, as the registry's queries do
_VOL = "CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT) + 1"

#: query -> (layer, integer-valued aggregates over its output)
QUERIES = {
    "vwap_2min": ("operators.windows", ("cum_vol", "vol")),
    "trade_pnl_asof": ("operators.asof", ("qty",)),
    "sessionize": ("operators.analytics", ("n_events", "session_id")),
    "ohlc_bars": ("operators.windows", ("n_ticks",)),
}


def _build(b, d: str) -> dict:
    from async_stream_processing_spark.operators.analytics import sessionize
    from async_stream_processing_spark.operators.positions import (
        mark_to_market,
    )
    from async_stream_processing_spark.operators.windows import (
        cumulative_sum,
        ohlc_bars,
        sliding_weighted_mean,
    )
    from async_stream_processing_spark.plans.event_relation import (
        events_relation,
    )

    with b.span("plans.event_relation.plan"):
        ev = events_relation(b.spark, d).withColumn("vol", F.expr(_VOL))
    out = {}
    with b.span("operators.windows.plan"):
        df = ev.withColumn("ts_us", F.unix_micros("ts"))
        df = cumulative_sum(df, value="vol", order=["ts_us", "seq"],
                            partition_by=["user_id"], out="cum_vol",
                            scale=0)
        df = sliding_weighted_mean(
            df, value="value", weight="vol", interval_seconds=120,
            partition_by=["user_id"], out="vwap_2min", order_col="ts_us",
        )
        out["vwap_2min"] = df.select(
            "event_id", "ts", "user_id", "value", "vol", "vwap_2min",
            F.col("cum_vol").cast("long").alias("cum_vol"),
        )
    with b.span("operators.asof.plan"):
        trades = ev.filter(F.col("event_type") == "purchase").select(
            "event_id", "ts", "seq", "user_id",
            F.col("vol").alias("qty"), F.col("value").alias("price"),
        )
        quotes = ev.filter(F.col("event_type") == "view").select(
            "user_id", "ts", "seq", F.col("value").alias("mid"),
        )
        out["trade_pnl_asof"] = mark_to_market(
            trades, quotes, on=["user_id"]
        ).select("event_id", "ts", "user_id", "qty", "price", "mid", "pnl")
    with b.span("operators.analytics.plan"):
        out["sessionize"] = sessionize(ev, gap_seconds=1800).select(
            "user_id", F.col("session_id").cast("long").alias("session_id"),
            "session_start", "session_end", "n_events", "sum_value",
        )
    with b.span("operators.windows.plan"):
        out["ohlc_bars"] = ohlc_bars(ev, every="5 minutes",
                                     partition_by=["user_id"])
    return out


def _observed(df, cols):
    obs = Observation()
    aggs = [F.count(F.lit(1)).alias("n")]
    aggs += [F.sum(c).cast("long").alias(c) for c in cols]
    return df.observe(obs, *aggs), obs


def _oracle_aggs(d: str) -> dict:
    """Row count and column sums of every query's DuckDB oracle."""
    import __spark_entry__ as registry

    sql = registry.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM "
                    f"read_parquet('{d}/events.parquet')")
        out = {}
        for name, (_, cols) in QUERIES.items():
            sel = ", ".join(["count(*)"] + [f"sum({c})" for c in cols])
            row = con.execute(f"SELECT {sel} FROM ({sql[name]}) q").fetchone()
            out[name] = tuple(int(v or 0) for v in row)
        return out
    finally:
        con.close()


def _pass(b, d: str, expected: dict) -> float:
    t0 = time.perf_counter()
    plans = _build(b, d)
    got = {}
    for name, (layer, cols) in QUERIES.items():
        df, obs = _observed(plans[name], cols)
        b.tracer.planning(df)
        with b.span(f"{layer}.exec", query=name):
            df.write.format("noop").mode("overwrite").save()
        got[name] = obs.get
    dt = time.perf_counter() - t0
    for name, (_, cols) in QUERIES.items():
        row = tuple(int(got[name][k] or 0) for k in ("n", *cols))
        check(row == expected[name],
              f"{name}: spark {row} != oracle {expected[name]}")
    return dt


def land(b, k: int, n: int) -> str:
    d = b.fresh_dir("events")
    with b.span("inputs.land"):
        gen.write(gen.events(b.rng(1, k), n, n_users=USERS, zipf_s=ZIPF_S),
                  f"{d}/events.parquet")
    return d


def warmup(b) -> None:
    sizes = [b.size(WARMUP_EVENTS, 2000)] + [b.size(EVENTS, 5000)] * \
        WARMUP_FULL_PASSES
    for k, n in enumerate(sizes):
        d = land(b, 1000 + k, n)
        expected = _oracle_aggs(d)
        with b.span("warmup"):
            b.unit(_pass, b, d, expected)
        b.settle()
        if k == 0:
            b.keep["exact_dir"] = d  # small: kept for the exact check
        else:
            shutil.rmtree(d)


def measure(b) -> dict:
    n = b.size(EVENTS, 5000)
    times = []
    for k in range(max(MIN_PASSES, round(b.seconds / PASS_S))):
        d = land(b, k, n)
        expected = _oracle_aggs(d)
        dt = b.unit(_pass, b, d, expected)
        if dt is not None:
            times.append(dt)
        b.settle()
        shutil.rmtree(d)
    b.unit(_exact_check, b, b.keep["exact_dir"])
    p50 = median(times)
    return {"records_per_s": n / p50, "latency_p50_s": p50,
            "units": len(times), "passes": len(times), "unit_s": times}


def _exact_check(b, d: str) -> None:
    """Row-by-row, bit-exact comparison with the oracle on one input,
    with the registry's own comparison rules."""
    import __spark_entry__ as registry
    from tools.check_oracle import compare

    sql = registry.oracle_sql()
    plans = _build(b, d)
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM "
                    f"read_parquet('{d}/events.parquet')")
        for name, df in plans.items():
            errs = compare(name, df.toPandas(), con.execute(sql[name]).df())
            check(not errs, f"{name}: {errs}")
    finally:
        con.close()
