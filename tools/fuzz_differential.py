"""Differential query fuzzer: random relational expressions executed by
BOTH Spark and DuckDB from one AST, compared exactly.

The hand-written oracle gate proves the declared queries; this tool
probes the space BETWEEN them -- filter/group/aggregate combinations
nobody wrote by hand -- for engine-behavior divergence (the SQLancer /
SparkFuzz idea, specialized to this repo's portability contract).

Every generated expression stays inside the repo's cross-engine
determinism rules (functions/numeric.py): integer aggregates, MIN/MAX,
COUNT, COUNT(DISTINCT), and decimal-exact SUM of 2-dp money -- no raw
double sums, no libm.  A divergence therefore indicates a real bug (in
a plan rewrite, a pushed predicate, null handling, type coercion), not
float noise.

Usage: python tools/fuzz_differential.py [n_cases] [seed] [sf_dir]
Also driven by tests/test_differential.py with pinned seeds.
"""

from __future__ import annotations

import random
import sys

# one AST node set, two renderers -------------------------------------------

FILTERS = [
    # (spark_condition, sql_condition) -- columns of the events table
    ("F.col('user_id') % {m} == {r}", "user_id % {m} = {r}"),
    ("F.col('value') >= {v}", "value >= {v}"),
    ("F.col('value') < {v}", "value < {v}"),
    ("F.col('event_type') == '{et}'", "event_type = '{et}'"),
    ("F.col('event_type') != '{et}'", "event_type <> '{et}'"),
    ("F.col('event_id') % {m} != {r}", "event_id % {m} <> {r}"),
    ("F.dayofmonth('ts') <= {d}", "EXTRACT(day FROM ts) <= {d}"),
]

GROUPS = [
    ("F.col('event_type')", "event_type", "g_et"),
    ("(F.col('user_id') % {k})", "user_id % {k}", "g_uk"),
    ("F.dayofmonth('ts')", "EXTRACT(day FROM ts)", "g_day"),
    ("(F.col('event_id') % {k})", "event_id % {k}", "g_ek"),
]

AGGS = [
    ("F.count(F.lit(1)).alias('n')", "COUNT(*) AS n"),
    ("F.countDistinct('user_id').alias('ndu')",
     "COUNT(DISTINCT user_id) AS ndu"),
    ("F.min('event_id').alias('mn')", "MIN(event_id) AS mn"),
    ("F.max('event_id').alias('mx')", "MAX(event_id) AS mx"),
    ("F.sum(F.col('value').cast('decimal(18,2)')).cast('double')"
     ".alias('sv')",
     "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv"),
    ("F.min('event_type').alias('met')", "MIN(event_type) AS met"),
]

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


JOINS = [
    # (kind, spark_how, sql_join) joining customer on user_id = c_custkey
    (None, None, None),
    ("inner", "inner", "JOIN"),
    ("left", "left", "LEFT JOIN"),
    # semi/anti render as EXISTS / NOT EXISTS on the SQL side -- the
    # dialect-portable equivalent of Spark's left_semi / left_anti
    ("semi", "left_semi", None),
    ("anti", "left_anti", None),
]

JOIN_FILTERS = [
    ("F.col('c_acctbal') >= {b}", "c_acctbal >= {b}"),
    ("F.col('c_mktsegment') == '{seg}'", "c_mktsegment = '{seg}'"),
]

SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]


def gen_case(rng: random.Random) -> dict:
    """One random case as paired (spark_exprs, sql) renderings."""
    subs = {
        "m": rng.choice([2, 3, 5, 7, 11]),
        "r": rng.randint(0, 1),
        "v": round(rng.uniform(-50, 400), 2),
        "et": rng.choice(EVENT_TYPES),
        "d": rng.randint(1, 28),
        "k": rng.choice([2, 4, 8, 16]),
        "b": round(rng.uniform(-500, 5000), 2),
        "seg": rng.choice(SEGMENTS),
        "hn": rng.randint(1, 20),
    }
    n_filters = rng.randint(0, 3)
    fs = rng.sample(FILTERS, n_filters) if n_filters else []
    n_groups = rng.randint(0, 2)
    gs = rng.sample(GROUPS, n_groups) if n_groups else []
    n_aggs = rng.randint(1, 3)
    ags = rng.sample(AGGS, n_aggs)
    join = rng.choice(JOINS)
    jfs = []
    if join[0] == "inner" and rng.random() < 0.7:
        # post-join filters on the dimension side (LEFT join + dim filter
        # intentionally excluded: null-extended rows make WHERE-vs-ON
        # semantics a test of the GENERATOR, not the engines)
        jfs = rng.sample(JOIN_FILTERS, rng.randint(1, 2))
    having = (
        ("F.col('n') >= {hn}".format(**subs), "n >= {hn}".format(**subs))
        if gs and any("COUNT(*)" in q for _, q in ags) and rng.random() < 0.5
        else None
    )
    return {
        "filters": [(s.format(**subs), q.format(**subs)) for s, q in fs],
        "groups": [(s.format(**subs), q.format(**subs), a) for s, q, a in gs],
        "aggs": ags,
        "join": join,
        "join_filters": [(s.format(**subs), q.format(**subs)) for s, q in jfs],
        "having": having,
        "subs": subs,
    }


def run_spark(spark, sf_dir: str, case: dict):
    from pyspark.sql import functions as F

    from async_stream_processing_spark.sources.parquet import load_table

    env = {"F": F}  # explicit eval env: comprehension scopes don't see it
    df = load_table(spark, sf_dir, "events")
    for s, _ in case["filters"]:
        df = df.filter(eval(s, env))
    kind, how, _ = case.get("join") or (None, None, None)
    if kind:
        cust = load_table(spark, sf_dir, "customer")
        df = df.join(cust, df.user_id == cust.c_custkey, how)
        for s, _ in case.get("join_filters", []):
            df = df.filter(eval(s, env))
    group_cols = [eval(s, env).alias(alias) for s, _, alias in case["groups"]]
    agg_cols = [eval(s, env) for s, _ in case["aggs"]]
    if group_cols:
        out = df.groupBy(*group_cols).agg(*agg_cols)
    else:
        out = df.agg(*agg_cols)
    if case.get("having"):
        out = out.filter(eval(case["having"][0], env))
    return out.toPandas()


def run_duckdb(con, case: dict):
    kind, _, sql_join = case.get("join") or (None, None, None)
    # Spark applies row filters to the events scan BEFORE the join; a
    # WHERE on the left-join result would differ, so the source is a
    # pre-filtered subquery in both renderings.
    ev_where = " AND ".join(q for _, q in case["filters"]) or "TRUE"
    if kind == "semi":
        ev_where += (" AND EXISTS (SELECT 1 FROM customer"
                     " WHERE c_custkey = user_id)")
    elif kind == "anti":
        ev_where += (" AND NOT EXISTS (SELECT 1 FROM customer"
                     " WHERE c_custkey = user_id)")
    src = f"(SELECT * FROM events WHERE {ev_where}) e"
    if kind in ("inner", "left"):
        src += f" {sql_join} customer ON e.user_id = c_custkey"
    post = " AND ".join(q for _, q in case.get("join_filters", []))
    where = f"WHERE {post}" if post else ""
    groups = [(q, alias) for _, q, alias in case["groups"]]
    sel_groups = ", ".join(f"{q} AS {alias}" for q, alias in groups)
    sel_aggs = ", ".join(q for _, q in case["aggs"])
    select = ", ".join(x for x in (sel_groups, sel_aggs) if x)
    gb = f"GROUP BY {', '.join(q for q, _ in groups)}" if groups else ""
    having = f"HAVING {case['having'][1]}" if case.get("having") else ""
    if having and gb:
        # HAVING references the aliased agg; DuckDB allows alias in HAVING
        pass
    return con.execute(
        f"SELECT {select} FROM {src} {where} {gb} {having}"
    ).df()


def compare(spdf, ddf) -> str | None:
    import pandas as pd

    if len(spdf) != len(ddf):
        return f"rowcount {len(spdf)} vs {len(ddf)}"
    if sorted(spdf.columns) != sorted(ddf.columns):
        return f"columns {sorted(spdf.columns)} vs {sorted(ddf.columns)}"
    cols = sorted(spdf.columns)

    def norm(df):
        df = df.reindex(cols, axis=1).copy()
        for c in cols:
            if pd.api.types.is_integer_dtype(df[c]) or str(df[c].dtype) == "Int64":
                df[c] = df[c].astype("float64")  # unify int widths, keep exact (<2^53)
            elif pd.api.types.is_float_dtype(df[c]):
                df[c] = df[c].astype("float64")
        return df.sort_values(by=cols, kind="mergesort").reset_index(drop=True)

    a, b = norm(spdf), norm(ddf)
    for c in cols:
        av, bv = a[c], b[c]
        if not (av.isna() == bv.isna()).all():
            return f"null placement differs in {c}"
        mask = ~av.isna()
        if av.dtype.kind == "f":
            if not (av[mask].to_numpy() == bv[mask].to_numpy()).all():
                return f"values differ in {c}"
        else:
            if not (av[mask] == bv[mask]).all():
                return f"values differ in {c}"
    return None


SCALARS = [
    # (spark_expr, sql_expr) -- portable scalar set: integer arithmetic,
    # string structure ops, date parts, CASE.  No float math beyond one
    # multiplication (exactly rounded identically), no regex (Java vs
    # RE2), no trig/log (libm).
    ("F.col('event_id') * {m} + {r}", "event_id * {m} + {r}"),
    ("F.expr('event_id div {m}')", "event_id // {m}"),
    ("F.col('event_id') % {m}", "event_id % {m}"),
    ("F.abs(F.col('user_id') - {k})", "ABS(user_id - {k})"),
    ("F.least(F.col('user_id'), F.lit({k}))", "LEAST(user_id, {k})"),
    ("F.greatest(F.col('event_id') % 100, F.col('user_id'))",
     "GREATEST(event_id % 100, user_id)"),
    ("F.length('event_type')", "CAST(LENGTH(event_type) AS INT)"),
    ("F.upper('event_type')", "UPPER(event_type)"),
    ("F.substring('event_type', 1, {m})", "SUBSTRING(event_type, 1, {m})"),
    ("F.concat(F.col('event_type'), F.lit('_'), "
     "F.col('user_id').cast('string'))",
     "event_type || '_' || CAST(user_id AS VARCHAR)"),
    ("F.year('ts')", "CAST(EXTRACT(year FROM ts) AS INT)"),
    # temporal structure ops: truncation, interval arithmetic, iso
    # weekday, minute-of-day -- each rendered per dialect, values
    # identical (timestamps are exact microseconds, no float path)
    ("F.date_trunc('day', F.col('ts'))", "date_trunc('day', ts)"),
    ("F.date_trunc('hour', F.col('ts'))", "date_trunc('hour', ts)"),
    ("F.col('ts') + F.expr('INTERVAL {d} HOURS')",
     "ts + INTERVAL {d} HOUR"),
    ("F.expr('weekday(ts) + 1')", "CAST(EXTRACT(isodow FROM ts) AS INT)"),
    ("(F.hour('ts') * 60 + F.minute('ts'))",
     "CAST(EXTRACT(hour FROM ts) * 60 + EXTRACT(minute FROM ts) AS INT)"),
    ("F.to_date('ts')", "CAST(ts AS DATE)"),
    ("F.month('ts')", "CAST(EXTRACT(month FROM ts) AS INT)"),
    ("F.hour('ts')", "CAST(EXTRACT(hour FROM ts) AS INT)"),
    ("F.when(F.col('value') >= {v}, F.lit('hi')).otherwise(F.lit('lo'))",
     "CASE WHEN value >= {v} THEN 'hi' ELSE 'lo' END"),
    ("F.when(F.col('user_id') % {m} == 0, F.col('event_id'))",
     "CASE WHEN user_id % {m} = 0 THEN event_id END"),
    ("F.coalesce(F.nullif(F.col('event_type'), F.lit('{et}')), "
     "F.lit('masked'))",
     "COALESCE(NULLIF(event_type, '{et}'), 'masked')"),
]


def gen_scalar_case(rng: random.Random) -> dict:
    subs = {
        "m": rng.choice([2, 3, 5, 7, 11]),
        "r": rng.randint(0, 9),
        "v": round(rng.uniform(-50, 400), 2),
        "et": rng.choice(EVENT_TYPES),
        "k": rng.randint(0, 200),
        "d": rng.randint(1, 28),
    }
    n_filters = rng.randint(0, 2)
    fs = rng.sample(FILTERS, n_filters) if n_filters else []
    exprs = rng.sample(SCALARS, rng.randint(2, 5))
    return {
        "filters": [(s.format(**subs), q.format(**subs)) for s, q in fs],
        "exprs": [(s.format(**subs), q.format(**subs)) for s, q in exprs],
        "subs": subs,
    }


def run_spark_scalar(spark, sf_dir: str, case: dict):
    from pyspark.sql import functions as F

    from async_stream_processing_spark.sources.parquet import load_table

    env = {"F": F}
    df = load_table(spark, sf_dir, "events")
    for s, _ in case["filters"]:
        df = df.filter(eval(s, env))
    cols = [F.col("event_id")] + [
        eval(s, env).alias(f"c{i}") for i, (s, _) in enumerate(case["exprs"])
    ]
    return df.select(*cols).toPandas()


def run_duckdb_scalar(con, case: dict):
    where = " AND ".join(q for _, q in case["filters"]) or "TRUE"
    sel = ", ".join(f"{q} AS c{i}" for i, (_, q) in enumerate(case["exprs"]))
    return con.execute(
        f"SELECT event_id, {sel} FROM events WHERE {where}"
    ).df()


def fuzz_scalar(spark, con, sf_dir: str, n_cases: int, seed: int):
    rng = random.Random(seed)
    failures = []
    for i in range(n_cases):
        case = gen_scalar_case(rng)
        err = compare(run_spark_scalar(spark, sf_dir, case),
                      run_duckdb_scalar(con, case))
        if err:
            failures.append((i, err, case))
    return failures


WINDOW_FUNCS = [
    # (spark_over_w, sql_over) -- w orders by the UNIQUE event_id inside
    # the partition, so every function below is fully deterministic
    ("F.row_number()", "ROW_NUMBER()"),
    ("F.rank()", "RANK()"),
    ("F.lag('event_id', 1)", "LAG(event_id, 1)"),
    ("F.lead('event_id', 1)", "LEAD(event_id, 1)"),
    ("F.count(F.lit(1))", "COUNT(*)"),
    ("F.min('event_id')", "MIN(event_id)"),
    ("F.dense_rank()", "DENSE_RANK()"),
    ("F.ntile(4)", "NTILE(4)"),
    # percent_rank/cume_dist: one IEEE division of exact integers ->
    # identical doubles in both engines; x 1e6 then an EXPLICIT FLOOR
    # (DuckDB's CAST(double AS BIGINT) ROUNDS half-away while Spark's
    # cast truncates -- a real cross-engine hazard this grammar found;
    # floor is identical in both).  Spark needs .over() BEFORE the
    # arithmetic, hence the W placeholder.
    ("F.floor(F.percent_rank().over(W) * 1000000)",
     "FLOOR(PERCENT_RANK() {over} * 1000000)"),
    ("F.floor(F.cume_dist().over(W) * 1000000)",
     "FLOOR(CUME_DIST() {over} * 1000000)"),
    # default frame (RANGE UNBOUNDED PRECEDING .. CURRENT ROW) over a
    # UNIQUE ordering: rows == range in both engines
    ("F.first_value('event_id')", "FIRST_VALUE(event_id)"),
    ("F.nth_value('event_id', 3)", "NTH_VALUE(event_id, 3)"),
]

WINDOW_PARTS = [
    ("F.col('event_type')", "event_type"),
    ("(F.col('user_id') % {k})", "user_id % {k}"),
]


def gen_window_case(rng: random.Random) -> dict:
    """Window-function case: filters + one windowed projection, compared
    row-for-row (no aggregation collapses differences)."""
    subs = {
        "m": rng.choice([2, 3, 5, 7, 11]),
        "r": rng.randint(0, 1),
        "v": round(rng.uniform(-50, 400), 2),
        "et": rng.choice(EVENT_TYPES),
        "d": rng.randint(1, 28),
        "k": rng.choice([2, 4, 8, 16]),
    }
    n_filters = rng.randint(0, 2)
    fs = rng.sample(FILTERS, n_filters) if n_filters else []
    part = rng.choice(WINDOW_PARTS)
    wfs = rng.sample(WINDOW_FUNCS, rng.randint(1, 3))
    return {
        "filters": [(s.format(**subs), q.format(**subs)) for s, q in fs],
        "part": (part[0].format(**subs), part[1].format(**subs)),
        "wfuncs": wfs,
        "subs": subs,
    }


def run_spark_window(spark, sf_dir: str, case: dict):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from async_stream_processing_spark.sources.parquet import load_table

    env = {"F": F}
    df = load_table(spark, sf_dir, "events")
    for s, _ in case["filters"]:
        df = df.filter(eval(s, env))
    w = Window.partitionBy(eval(case["part"][0], env)).orderBy("event_id")
    env["W"] = w
    cols = [F.col("event_id")] + [
        (eval(s, env) if ".over(W)" in s else eval(s, env).over(w))
        .cast("long").alias(f"w{i}")
        for i, (s, _) in enumerate(case["wfuncs"])
    ]
    return df.select(*cols).toPandas()


def run_duckdb_window(con, case: dict):
    where = " AND ".join(q for _, q in case["filters"]) or "TRUE"
    over = f"OVER (PARTITION BY {case['part'][1]} ORDER BY event_id)"
    sel = ", ".join(
        f"CAST({q.format(over=over)} AS BIGINT) AS w{i}"
        if "{over}" in q else f"CAST({q} {over} AS BIGINT) AS w{i}"
        for i, (_, q) in enumerate(case["wfuncs"])
    )
    return con.execute(
        f"SELECT event_id, {sel} FROM events WHERE {where}"
    ).df()


def fuzz_window(spark, con, sf_dir: str, n_cases: int, seed: int):
    rng = random.Random(seed)
    failures = []
    for i in range(n_cases):
        case = gen_window_case(rng)
        err = compare(run_spark_window(spark, sf_dir, case),
                      run_duckdb_window(con, case))
        if err:
            failures.append((i, err, case))
    return failures


def run_spark_streaming(spark, sf_dir: str, case: dict):
    """The SAME AST executed by the micro-batch engine: stream the events
    source, apply filters/join/agg, drain complete-mode, post-filter
    HAVING on the drained result.  Closes the triangle: batch Spark ==
    DuckDB (run_spark/run_duckdb) and streaming Spark == batch Spark
    (here) -- three execution paths, one semantic.

    countDistinct is excluded from streaming cases (unsupported by the
    engine in streaming aggregation -- a documented Spark limit, not an
    engine bug to find)."""
    from pyspark.sql import functions as F

    from async_stream_processing_spark.sources.parquet import (
        load_table,
        stream_table,
    )
    from async_stream_processing_spark.streaming.replay import drain

    env = {"F": F}
    df = stream_table(spark, sf_dir, "events")
    for s, _ in case["filters"]:
        df = df.filter(eval(s, env))
    kind, how, _ = case.get("join") or (None, None, None)
    if kind:
        cust = load_table(spark, sf_dir, "customer")  # static side
        df = df.join(cust, df.user_id == cust.c_custkey, how)
        for s, _ in case.get("join_filters", []):
            df = df.filter(eval(s, env))
    group_cols = [eval(s, env).alias(alias) for s, _, alias in case["groups"]]
    agg_cols = [eval(s, env) for s, _ in case["aggs"]]
    if group_cols:
        out = df.groupBy(*group_cols).agg(*agg_cols)
    else:
        out = df.groupBy().agg(*agg_cols)
    res = drain(out, output_mode="complete")
    if case.get("having"):
        res = res.filter(eval(case["having"][0], env))
    return res.toPandas()


def fuzz_streaming(spark, sf_dir: str, n_cases: int, seed: int):
    """Streaming-vs-batch differential: same AST, micro-batch engine vs
    batch planner, value-exact comparison."""
    rng = random.Random(seed)
    failures = []
    for i in range(n_cases):
        case = gen_case(rng)
        # drop distinct aggregation (unsupported in streaming)
        case["aggs"] = [a for a in case["aggs"] if "ndu" not in a[0]] or [AGGS[0]]
        err = compare(run_spark(spark, sf_dir, case),
                      run_spark_streaming(spark, sf_dir, case))
        if err:
            failures.append((i, err, case))
    return failures


def fuzz(spark, con, sf_dir: str, n_cases: int, seed: int):
    rng = random.Random(seed)
    failures = []
    for i in range(n_cases):
        case = gen_case(rng)
        err = compare(run_spark(spark, sf_dir, case), run_duckdb(con, case))
        if err:
            failures.append((i, err, case))
    return failures




# (spark_expr, sql_expr) over the DOCUMENTS table -- the string/array layer
# the curation operators stand on.  Arrays are always reduced to scalars
# (size / element / joined string) so the frame compare stays hashable.
# Excluded as non-portable: regex beyond the literal-space split (Java vs
# RE2 dialects), locale-sensitive casing beyond ASCII (corpus is ASCII),
# element_at past a guaranteed bound (ANSI error vs NULL).
TEXT_EXPRS = [
    ("F.length('text')", "CAST(LENGTH(text) AS INT)"),
    ("F.length(F.trim(F.col('text')))", "CAST(LENGTH(TRIM(text)) AS INT)"),
    ("F.substring('text', {p}, {m})", "SUBSTRING(text, {p}, {m})"),
    ("F.md5(F.col('text'))", "md5(text)"),
    ("F.reverse(F.substring('text', 1, 10))", "REVERSE(SUBSTRING(text, 1, 10))"),
    ("F.instr(F.col('text'), '{needle}')",
     "CAST(STRPOS(text, '{needle}') AS BIGINT)"),
    ("F.expr(\"replace(text, '{needle}', 'X')\")",
     "REPLACE(text, '{needle}', 'X')"),
    ("F.size(F.split(F.lower(F.trim(F.col('text'))), ' +'))",
     "CAST(LEN(string_split_regex(LOWER(TRIM(text)), ' +')) AS INT)"),
    # docs are >= 9 words, so element 1..5 always exists (ANSI-safe)
    ("F.element_at(F.split(F.lower(F.trim(F.col('text'))), ' +'), {w5})",
     "string_split_regex(LOWER(TRIM(text)), ' +')[{w5}]"),
    ("F.concat_ws('|', F.slice(F.split(F.lower(F.trim(F.col('text'))), ' +'), 1, {w5}))",
     "array_to_string(string_split_regex(LOWER(TRIM(text)), ' +')[1:{w5}], '|')"),
    ("F.size(F.array_distinct(F.split(F.lower(F.trim(F.col('text'))), ' +')))",
     "CAST(LEN(list_distinct(string_split_regex(LOWER(TRIM(text)), ' +'))) AS INT)"),
    ("F.concat_ws(',', F.array_sort(F.array_distinct("
     "F.split(F.lower(F.trim(F.col('text'))), ' +'))))",
     "array_to_string(list_sort(list_distinct("
     "string_split_regex(LOWER(TRIM(text)), ' +'))), ',')"),
    ("F.upper(F.substring('source', 1, {m}))",
     "UPPER(SUBSTRING(source, 1, {m}))"),
    ("F.concat(F.col('lang'), F.lit(':'), F.col('source'))",
     "lang || ':' || source"),
]

TEXT_FILTERS = [
    ("F.col('n_chars') >= {nc}", "n_chars >= {nc}"),
    ("F.col('lang') == '{lang}'", "lang = '{lang}'"),
    ("F.col('doc_id') % {m} == 0", "doc_id % {m} = 0"),
    ("F.instr(F.col('text'), '{needle}') > 0", "STRPOS(text, '{needle}') > 0"),
]

# --- array grammar: the narrow per-row layer the round-7 plans stand on
# (transform / filter / aggregate / slice / distinct over the token
# array).  SW / DW render the word array in each engine; every pair is
# dtype-aligned (explicit BIGINT casts, NULL-coalesced folds).
_SW = "F.split(F.lower(F.trim(F.col('text'))), ' +')"
_DW = "string_split_regex(lower(trim(text)), ' +')"

ARR_EXPRS = [
    (f"F.size({_SW}).cast('long')", f"CAST(len({_DW}) AS BIGINT)"),
    (f"F.size(F.array_distinct({_SW})).cast('long')",
     f"CAST(len(list_distinct({_DW})) AS BIGINT)"),
    (f"F.size(F.filter({_SW}, lambda x: F.length(x) > {{w5}})).cast('long')",
     f"CAST(len(list_filter({_DW}, x -> len(x) > {{w5}})) AS BIGINT)"),
    (f"F.aggregate({_SW}, F.lit(0).cast('long'),"
     " lambda a, x: a + F.length(x))",
     f"CAST(COALESCE(list_sum(list_transform({_DW}, x -> len(x))), 0)"
     " AS BIGINT)"),
    (f"F.coalesce(F.array_position({_SW}, '{{needle}}'), F.lit(0))"
     ".cast('long')",
     f"CAST(COALESCE(list_position({_DW}, '{{needle}}'), 0) AS BIGINT)"),
    (f"F.array_join(F.slice({_SW}, 1, {{w5}}), '-')",
     f"array_to_string(({_DW})[1:{{w5}}], '-')"),
    (f"F.array_join(F.reverse({_SW}), '|')",
     f"array_to_string(list_reverse({_DW}), '|')"),
    (f"F.when(F.size({_SW}) >= {{w5}}, F.element_at({_SW}, {{w5}}))",
     f"CASE WHEN len({_DW}) >= {{w5}} THEN ({_DW})[{{w5}}] END"),
    (f"F.array_join(F.array_sort(F.slice({_SW}, 1, {{w5}})), ' ')",
     f"array_to_string(list_sort(({_DW})[1:{{w5}}]), ' ')"),
    (f"F.aggregate(F.transform({_SW}, lambda x: F.length(x) * F.length(x)),"
     " F.lit(0).cast('long'), lambda a, x: a + x)",
     f"CAST(COALESCE(list_sum(list_transform({_DW},"
     " x -> len(x) * len(x))), 0) AS BIGINT)"),
    (f"F.size(F.flatten(F.transform({_SW},"
     " lambda x: F.split(x, 'a')))).cast('long')",
     f"CAST(len(flatten(list_transform({_DW},"
     " x -> string_split_regex(x, 'a')))) AS BIGINT)"),
]


def gen_array_case(rng: "random.Random") -> dict:
    subs = {
        "m": rng.choice([2, 3, 5, 7]),
        "w5": rng.randint(1, 5),
        "nc": rng.randint(50, 300),
        "lang": rng.choice(["en", "de", "es", "fr", "zh"]),
        "needle": rng.choice(["key", "row", "scan", "table", "value", "zz"]),
        "p": rng.randint(1, 20),
    }
    n_filters = rng.randint(0, 2)
    fs = rng.sample(TEXT_FILTERS, n_filters) if n_filters else []
    exprs = rng.sample(ARR_EXPRS, rng.randint(2, 5))
    return {
        "filters": [(a.format(**subs), b.format(**subs)) for a, b in fs],
        "exprs": [(a.format(**subs), b.format(**subs)) for a, b in exprs],
        "subs": subs,
    }


def fuzz_array(spark, con, sf_dir: str, n_cases: int, seed: int):
    rng = random.Random(seed)
    failures = []
    for i in range(n_cases):
        case = gen_array_case(rng)
        err = compare(run_spark_text(spark, sf_dir, case),
                      run_duckdb_text(con, case))
        if err:
            failures.append((i, err, case))
    return failures


def gen_text_case(rng: random.Random) -> dict:
    subs = {
        "m": rng.choice([2, 3, 5, 7]),
        "p": rng.randint(1, 20),
        "w5": rng.randint(1, 5),
        "nc": rng.randint(50, 300),
        "lang": rng.choice(["en", "de", "es", "fr", "zh"]),
        "needle": rng.choice(["key", "row", "scan", "table", "value", "zz"]),
    }
    n_filters = rng.randint(0, 2)
    fs = rng.sample(TEXT_FILTERS, n_filters) if n_filters else []
    exprs = rng.sample(TEXT_EXPRS, rng.randint(2, 5))
    return {
        "filters": [(a.format(**subs), b.format(**subs)) for a, b in fs],
        "exprs": [(a.format(**subs), b.format(**subs)) for a, b in exprs],
        "subs": subs,
    }


def run_spark_text(spark, sf_dir: str, case: dict):
    from pyspark.sql import functions as F

    from async_stream_processing_spark.sources.parquet import load_table

    env = {"F": F}
    df = load_table(spark, sf_dir, "documents")
    for sexpr, _ in case["filters"]:
        df = df.filter(eval(sexpr, env))
    cols = [F.col("doc_id")] + [
        eval(sexpr, env).alias(f"c{i}")
        for i, (sexpr, _) in enumerate(case["exprs"])
    ]
    return df.select(*cols).toPandas()


def run_duckdb_text(con, case: dict):
    where = " AND ".join(q for _, q in case["filters"]) or "TRUE"
    sel = ", ".join(f"{q} AS c{i}" for i, (_, q) in enumerate(case["exprs"]))
    return con.execute(
        f"SELECT doc_id, {sel} FROM documents WHERE {where}"
    ).df()


def fuzz_text(spark, con, sf_dir: str, n_cases: int, seed: int):
    rng = random.Random(seed)
    failures = []
    for i in range(n_cases):
        case = gen_text_case(rng)
        err = compare(run_spark_text(spark, sf_dir, case),
                      run_duckdb_text(con, case))
        if err:
            failures.append((i, err, case))
    return failures


def gen_rollup_case(rng: random.Random) -> dict:
    """One grouping-sets case: random dims x {ROLLUP, CUBE, GROUPING
    SETS} x portable integer aggregates, rendered as ONE ANSI string
    both engines parse -- probes the multi-dimensional aggregate layer
    (super-aggregate row generation, GROUPING() flags, NULL-dim vs
    rollup-NULL disambiguation) that no hand-written oracle fuzzes."""
    import itertools as it

    m = rng.choice([2, 3, 5, 7])
    k = rng.choice([3, 10, 50])
    dim_pool = [
        "event_type",
        f"(user_id % {k})",
        f"(event_id % {m})",
        "CASE WHEN value >= 100 THEN 'hi' ELSE 'lo' END",
    ]
    dims = rng.sample(dim_pool, rng.randint(1, 3))
    mode = rng.choice(["ROLLUP", "CUBE", "SETS"])
    if mode == "SETS":
        subsets = [
            list(s)
            for n_ in range(len(dims))
            for s in it.combinations(range(len(dims)), n_)
        ]
        # the full set is always a member: every selected dim must be a
        # grouping column or GROUPING(dim) / SELECT dim is ill-formed
        fam = [list(range(len(dims)))] + rng.sample(
            subsets, rng.randint(0, min(3, len(subsets)))
        )
        inner = ", ".join(
            "(" + ", ".join(dims[i] for i in s) + ")" for s in fam
        )
        group = f"GROUPING SETS ({inner})"
    else:
        group = f"{mode}(" + ", ".join(dims) + ")"
    where = f" WHERE event_id % {m} = {rng.randint(0, 1)}" \
        if rng.random() < 0.5 else ""
    sel_dims = ", ".join(f"{d} AS d{i}" for i, d in enumerate(dims))
    sel_flags = ", ".join(
        f"CAST(GROUPING({d}) AS INT) AS g{i}" for i, d in enumerate(dims)
    )
    sql = (
        f"SELECT {sel_dims}, {sel_flags}, COUNT(*) AS n, "
        f"CAST(SUM(user_id % 97) AS BIGINT) AS s_mod, "
        f"MIN(event_id) AS mn, MAX(event_id) AS mx "
        f"FROM events{where} GROUP BY {group}"
    )
    return {"sql": sql}


def fuzz_rollup(spark, con, sf_dir: str, n_cases: int, seed: int):
    from async_stream_processing_spark.sources.parquet import load_table

    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    rng = random.Random(seed)
    failures = []
    for i in range(n_cases):
        case = gen_rollup_case(rng)
        err = compare(
            spark.sql(case["sql"]).toPandas(),
            con.execute(case["sql"]).df(),
        )
        if err:
            failures.append((i, err, case))
    return failures


SETOP_EXPRS = [
    "event_type",
    "(user_id % {k})",
    "(event_id % {m})",
    "CASE WHEN value >= {v} THEN 'hi' ELSE 'lo' END",
    "CAST(LENGTH(event_type) AS INT)",
]

SETOP_PREDS = [
    "event_id % {m} = 0",
    "user_id % {k} < {j}",
    "event_type = '{et}'",
    "value >= {v}",
    "TRUE",
]


def gen_setop_case(rng: random.Random) -> dict:
    """One set-operation case: 2-3 SELECT branches over events combined
    with {UNION, INTERSECT, EXCEPT} x {distinct, ALL}, explicit parens
    (no reliance on precedence), rendered as ONE ANSI string both
    engines parse -- probes bag-vs-set semantics, duplicate counting in
    the ALL variants, and NULL-row equality in set membership."""
    subs = {
        "m": rng.choice([2, 3, 5, 7]),
        "k": rng.choice([3, 10, 50]),
        "j": rng.randint(1, 9),
        "v": round(rng.uniform(-50, 400), 2),
        "et": rng.choice(EVENT_TYPES),
    }
    exprs = rng.sample(SETOP_EXPRS, rng.randint(1, 3))
    sel = ", ".join(
        f"{e.format(**subs)} AS c{i}" for i, e in enumerate(exprs)
    )
    ops = ["UNION", "UNION ALL", "INTERSECT", "INTERSECT ALL",
           "EXCEPT", "EXCEPT ALL"]
    n_branches = rng.randint(2, 3)
    branches = [
        f"SELECT {sel} FROM events "
        f"WHERE {rng.choice(SETOP_PREDS).format(**subs)}"
        for _ in range(n_branches)
    ]
    sql = branches[0]
    for b in branches[1:]:
        sql = f"({sql}) {rng.choice(ops)} ({b})"
    return {"sql": sql}


def fuzz_setop(spark, con, sf_dir: str, n_cases: int, seed: int):
    from async_stream_processing_spark.sources.parquet import load_table

    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    rng = random.Random(seed)
    failures = []
    for i in range(n_cases):
        case = gen_setop_case(rng)
        err = compare(
            spark.sql(case["sql"]).toPandas(),
            con.execute(case["sql"]).df(),
        )
        if err:
            failures.append((i, err, case))
    return failures


SUBQ_INNER_PREDS = [
    "x.event_id % {m} = 0",
    "x.value >= {v}",
    "x.event_type = '{et}'",
    "TRUE",
]

SUBQ_OUTER_PREDS = [
    "e.value < {v2}",
    "e.event_type <> '{et2}'",
    "e.event_id % {m2} = 0",
]


def gen_subquery_case(rng: random.Random) -> dict:
    """One subquery case: correlated [NOT] EXISTS, [NOT] IN against a
    dimension subquery, and correlated/uncorrelated SCALAR aggregate
    comparisons -- one ANSI string both engines parse.  Probes the
    decorrelation layer (Spark rewrites these to joins; DuckDB to
    dependent-join plans) that none of the hand oracles reach.
    Scalar-subquery aggregates stick to MIN/MAX/COUNT (exact value
    selection / integers): the comparison is then bit-portable."""
    subs = {
        "m": rng.choice([2, 3, 5, 7]),
        "m2": rng.choice([2, 3, 5]),
        "k": rng.choice([4, 8, 16, 50]),
        "v": round(rng.uniform(-50, 400), 2),
        "v2": round(rng.uniform(-50, 400), 2),
        "et": rng.choice(EVENT_TYPES),
        "et2": rng.choice(EVENT_TYPES),
        "b": round(rng.uniform(-500, 5000), 2),
        "j": rng.choice([3, 10, 25]),
    }
    inner = rng.choice(SUBQ_INNER_PREDS).format(**subs)
    kind = rng.choice(
        ["exists", "not_exists", "in", "not_in",
         "scalar_corr", "scalar_uncorr"]
    )
    if kind in ("exists", "not_exists"):
        neg = "NOT " if kind == "not_exists" else ""
        pred = (
            f"{neg}EXISTS (SELECT 1 FROM events x "
            f"WHERE x.user_id = e.user_id AND {inner})"
        )
    elif kind in ("in", "not_in"):
        neg = "NOT " if kind == "not_in" else ""
        pred = (
            f"e.user_id {neg}IN (SELECT c_custkey % {subs['k']} "
            f"FROM customer WHERE c_acctbal >= {subs['b']})"
        )
    elif kind == "scalar_corr":
        agg = rng.choice(
            ["MIN(x.event_id)", "MAX(x.event_id)", "COUNT(*) * 7"]
        )
        op = rng.choice([">", "<=", "<>"])
        pred = (
            f"e.event_id {op} (SELECT {agg} FROM events x "
            f"WHERE x.user_id = e.user_id AND {inner})"
        )
    else:
        agg = rng.choice(["MAX(x.value)", "MIN(x.value)"])
        pred = (
            f"e.value >= (SELECT {agg} FROM events x WHERE {inner}) "
            f"- {round(rng.uniform(0, 200), 2)}"
        )
    if rng.random() < 0.4:
        pred += " AND " + rng.choice(SUBQ_OUTER_PREDS).format(**subs)
    sql = (
        f"SELECT e.user_id % {subs['j']} AS g, COUNT(*) AS n, "
        f"MIN(e.event_id) AS mn, MAX(e.event_id) AS mx, "
        f"CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sv "
        f"FROM events e WHERE {pred} GROUP BY e.user_id % {subs['j']}"
    )
    return {"sql": sql}


def fuzz_subquery(spark, con, sf_dir: str, n_cases: int, seed: int):
    from async_stream_processing_spark.sources.parquet import load_table

    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    rng = random.Random(seed)
    failures = []
    for i in range(n_cases):
        case = gen_subquery_case(rng)
        err = compare(
            spark.sql(case["sql"]).toPandas(),
            con.execute(case["sql"]).df(),
        )
        if err:
            failures.append((i, err, case))
    return failures


MULTIJOIN_DIMS = [
    "e.event_type",
    "(e.user_id % {k})",
    "c.c_mktsegment",
    "n.n_name",
]

MULTIJOIN_PREDS = [
    "e.event_id % {m} = 0",
    "e.value >= {v}",
    "e.event_type <> '{et}'",
]


def gen_multijoin_case(rng: random.Random) -> dict:
    """One 3-table join chain: events -> customer (user_id = c_custkey)
    -> nation (c_nationkey = n_nationkey), INNER or LEFT at each hop,
    dims drawn from all three tables -- probes join reordering,
    null-extension through chained LEFT joins, and dim-side predicate
    placement (inner hops may carry an ON-side dimension filter; LEFT
    hops never do, the base grammar's WHERE-vs-ON lesson)."""
    subs = {
        "m": rng.choice([2, 3, 5, 7]),
        "k": rng.choice([3, 10, 25]),
        "v": round(rng.uniform(-50, 400), 2),
        "et": rng.choice(EVENT_TYPES),
        "b": round(rng.uniform(-500, 5000), 2),
        "seg": rng.choice(SEGMENTS),
    }
    j1 = rng.choice(["JOIN", "LEFT JOIN"])
    j2 = rng.choice(["JOIN", "LEFT JOIN"])
    on1 = "e.user_id = c.c_custkey"
    if j1 == "JOIN" and rng.random() < 0.5:
        on1 += f" AND c.c_acctbal >= {subs['b']}"
    on2 = "c.c_nationkey = n.n_nationkey"
    # dims referencing a LEFT side are fine (null-extended groups);
    # n_name through LEFT JOIN nation probes NULL-group handling
    dims = rng.sample(MULTIJOIN_DIMS, rng.randint(1, 3))
    where = ""
    if rng.random() < 0.6:
        where = " WHERE " + " AND ".join(
            p.format(**subs)
            for p in rng.sample(MULTIJOIN_PREDS, rng.randint(1, 2))
        )
    sel = ", ".join(
        f"{d.format(**subs)} AS d{i}" for i, d in enumerate(dims)
    )
    grp = ", ".join(d.format(**subs) for d in dims)
    sql = (
        f"SELECT {sel}, COUNT(*) AS n, MIN(e.event_id) AS mn, "
        f"CAST(COUNT(c.c_custkey) AS BIGINT) AS n_cust, "
        f"CAST(COUNT(n.n_name) AS BIGINT) AS n_nat, "
        f"CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sv "
        f"FROM events e {j1} customer c ON {on1} "
        f"{j2} nation n ON {on2}{where} GROUP BY {grp}"
    )
    return {"sql": sql}


def fuzz_multijoin(spark, con, sf_dir: str, n_cases: int, seed: int):
    from async_stream_processing_spark.sources.parquet import load_table

    for t in ("events", "customer", "nation"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    rng = random.Random(seed)
    failures = []
    for i in range(n_cases):
        case = gen_multijoin_case(rng)
        err = compare(
            spark.sql(case["sql"]).toPandas(),
            con.execute(case["sql"]).df(),
        )
        if err:
            failures.append((i, err, case))
    return failures


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    streaming = "--streaming" in sys.argv
    window = "--window" in sys.argv
    scalar = "--scalar" in sys.argv
    text = "--text" in sys.argv
    array = "--array" in sys.argv
    rollup = "--rollup" in sys.argv
    setop = "--setop" in sys.argv
    subquery = "--subquery" in sys.argv
    multijoin = "--multijoin" in sys.argv
    n = int(args[0]) if len(args) > 0 else 50
    seed = int(args[1]) if len(args) > 1 else 20260814
    sf_dir = args[2] if len(args) > 2 else "/root/testdata/sf0.01"
    sys.path.insert(0, ".")
    import duckdb

    from async_stream_processing_spark import get_spark

    spark = get_spark("fuzz")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in ("events", "customer", "documents", "nation"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    if streaming:
        failures = fuzz_streaming(spark, sf_dir, n, seed)
    elif window:
        failures = fuzz_window(spark, con, sf_dir, n, seed)
    elif scalar:
        failures = fuzz_scalar(spark, con, sf_dir, n, seed)
    elif text:
        failures = fuzz_text(spark, con, sf_dir, n, seed)
    elif array:
        failures = fuzz_array(spark, con, sf_dir, n, seed)
    elif rollup:
        failures = fuzz_rollup(spark, con, sf_dir, n, seed)
    elif setop:
        failures = fuzz_setop(spark, con, sf_dir, n, seed)
    elif subquery:
        failures = fuzz_subquery(spark, con, sf_dir, n, seed)
    elif multijoin:
        failures = fuzz_multijoin(spark, con, sf_dir, n, seed)
    else:
        failures = fuzz(spark, con, sf_dir, n, seed)
    mode = (", streaming" if streaming else
            ", window" if window else ", scalar" if scalar
            else ", text" if text else ", array" if array
            else ", rollup" if rollup else ", setop" if setop
            else ", subquery" if subquery
            else ", multijoin" if multijoin else "")
    for i, err, case in failures:
        print(f"FAIL case {i}: {err}\n  {case}")
    print(f"{'FAIL' if failures else 'PASS'}: {n - len(failures)}/{n} "
          f"(seed {seed}, {sf_dir}{mode})")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
