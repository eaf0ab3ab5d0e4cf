"""Benchmark entry point: one workload, one seed, one result line.

    python3 perfbench/run.py --workload event_replay --seed 7 \\
        --seconds 20 --trace 0

Run from the root of a source checkout; the engine is imported from
there.  The last line of stdout is the result::

    {"correct": true, "attempted": 9, "failed": 0,
     "metrics": {"setup_s": {"value": 12.3, "unit": "s"}, ...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (and writes spans and streaming progress under
``.perfbench_traces/``).  The line before it records the environment:
cpus, PySpark version and host load.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("event_replay", "past_to_live", "curation_lake")

#: name -> (unit, better); mirrored by BENCHMARK.json (the smoke test
#: keeps the two equal)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "records_per_s": ("1/s", "higher"),
    "latency_p50_s": ("s", "lower"),
}

PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "inputs.land_s": ("s", "lower"),
    "warmup_s": ("s", "lower"),
    "codegen.compiles": ("count", "lower"),
    "codegen.compile_s": ("s", "lower"),
    "spark.planning_s": ("s", "lower"),
    "spark.executor_run_s": ("s", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.jvm_gc_s": ("s", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.shuffle_write_mb": ("MB", "lower"),
    "spark.spill_mb": ("MB", "lower"),
    "plans.event_relation.plan_s": ("s", "lower"),
    "operators.plan_s": ("s", "lower"),
    "operators.windows.exec_s": ("s", "lower"),
    "operators.asof.exec_s": ("s", "lower"),
    "operators.analytics.exec_s": ("s", "lower"),
    "sources.latest_offset_ms_p50": ("ms", "lower"),
    "streaming.wal_commit_ms_p50": ("ms", "lower"),
    "streaming.query_planning_ms_p50": ("ms", "lower"),
    "streaming.add_batch_ms_p50": ("ms", "lower"),
    "streaming.trigger_ms_p50": ("ms", "lower"),
    "streaming.state_update_ms_p50": ("ms", "lower"),
    "streaming.state_commit_ms_p50": ("ms", "lower"),
    "streaming.state_rows": ("count", "lower"),
    "streaming.state_mb": ("MB", "lower"),
    "streaming.batches": ("count", "lower"),
    "streaming.empty_batch_ratio": ("ratio", "lower"),
    "streaming.rows_per_batch_p50": ("count", "higher"),
    "plans.versioned.commits": ("count", "lower"),
    "generator.late_max_s": ("s", "lower"),
    "jvm.heap_peak_mb": ("MB", "lower"),
    "python.rss_peak_mb": ("MB", "lower"),
    "host.loadavg_1m_start": ("load", "lower"),
    "host.loadavg_1m_end": ("load", "lower"),
    "tracing.overhead_s": ("s", "lower"),
}

#: per-layer metrics only ``curation_lake`` has; it is not among the
#: workloads BENCHMARK.json gates (see README.md)
CURATION_LAYER = {
    "sources.parquet.plan_s": ("s", "lower"),
    "llm.curation.exec_s": ("s", "lower"),
    "llm.dedup.exec_s": ("s", "lower"),
    "llm.dedup.candidates": ("count", "lower"),
    "llm.dedup.verified": ("count", "higher"),
    "llm.dedup.verify_yield": ("ratio", "higher"),
    "plans.versioned.commit_s": ("s", "lower"),
    "plans.versioned.lookup_files_read_ratio": ("ratio", "lower"),
}


def _pin_environment(workdir: str) -> int:
    """Size the engine to the host it runs on and keep every file it
    writes inside ``workdir``.  Engine knobs stay at their defaults."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # Python workers import the engine and the benchmark from any cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    # no JVM perf-data file in the system temp directory either
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        "pyspark-shell"
    )
    os.chdir(workdir)  # spark-warehouse and friends land in the workdir
    return cpus


def _start_session(b):
    from async_stream_processing_spark import get_spark

    with b.span("session.start"):
        spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    b.spark = spark
    b.tracer.bind(spark)


def _stop_session(b) -> None:
    if b.spark is not None:
        b.tracer.bind(None)
        b.spark.stop()
        b.spark = None


def _shutdown_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


def _per_layer(b, t_timed: float, passes: int, load0: float) -> dict:
    """Per-layer metrics.  Set-up ones cover set-up; the rest cover the
    timed region, per pass for the pass-based workloads (their pass count
    follows ``--seconds``) and per run for ``past_to_live``."""
    tr = b.tracer
    setup = tr.layer_sums()
    timed = tr.layer_sums(since=t_timed)

    def span_s(name):
        return timed.get(name + ".s", 0.0)

    names = {**PER_LAYER, **CURATION_LAYER}
    out = {k: 0.0 for k in names}
    out.update({
        "spark.executor_run_s": timed.get("run_ms", 0) / 1e3,
        "spark.executor_cpu_s": timed.get("cpu_ns", 0) / 1e9,
        "spark.jvm_gc_s": timed.get("gc_ms", 0) / 1e3,
        "spark.jobs": timed.get("jobs", 0),
        "spark.tasks": timed.get("tasks", 0),
        "spark.shuffle_write_mb": timed.get("shuffle_write_b", 0) / 2**20,
        "spark.spill_mb": timed.get("spill_b", 0) / 2**20,
        "plans.event_relation.plan_s": span_s("plans.event_relation.plan"),
        "sources.parquet.plan_s": span_s("sources.parquet.plan"),
        "operators.plan_s": sum(span_s(f"operators.{m}.plan")
                                for m in ("windows", "asof", "analytics")),
        "operators.windows.exec_s": span_s("operators.windows.exec"),
        "operators.asof.exec_s": span_s("operators.asof.exec"),
        "operators.analytics.exec_s": span_s("operators.analytics.exec"),
        "llm.curation.exec_s": span_s("llm.curation.exec"),
        "llm.dedup.exec_s": span_s("llm.dedup.exec"),
        "plans.versioned.commit_s": span_s("plans.versioned.commit"),
    })
    n, mean_s = tr.codegen()
    out["codegen.compiles"] = n - tr.codegen_at_timed
    out["codegen.compile_s"] = out["codegen.compiles"] * mean_s
    out.update({k: v for k, v in tr.counters.items() if k in names})
    for k in names:
        if k.startswith(("spark.", "codegen.", "operators.", "llm.dedup.",
                         "llm.curation.", "plans.versioned.commit_s",
                         "plans.event_relation.", "sources.parquet.")):
            out[k] /= passes
    out["llm.dedup.verify_yield"] = (
        out["llm.dedup.verified"] / out["llm.dedup.candidates"]
        if out["llm.dedup.candidates"] else 0.0)
    out.update({
        "session.start_s": setup.get("session.start.s", 0.0),
        "inputs.land_s": setup.get("inputs.land.s", 0.0)
        - timed.get("inputs.land.s", 0.0),
        "warmup_s": setup.get("warmup.s", 0.0),
        "jvm.heap_peak_mb": tr.heap_peak_b / 2**20,
        "python.rss_peak_mb": tr.rss_peak_mb(),
        "host.loadavg_1m_start": load0,
        "host.loadavg_1m_end": os.getloadavg()[0],
        "tracing.overhead_s": tr.overhead_s,
    })
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # input-size multiplier for the smoke test; runs keep the default
    ap.add_argument("--scale", type=float, default=1.0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "async_stream_processing_spark")):
        print(f"no engine source under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from common import Bench
    from tracing import Tracer

    load0 = os.getloadavg()[0]
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    workdir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    b = Bench(workdir, args.seed, args.seconds, args.scale,
              Tracer(bool(args.trace)))
    try:
        cpus = _pin_environment(workdir)
        wl = importlib.import_module(args.workload)
        _start_session(b)
        wl.warmup(b)
        setup_s = time.perf_counter() - T_PROCESS
        t_timed = time.time()
        b.tracer.start_timed()
        res = wl.measure(b)
        import pyspark

        env = {"workload": args.workload, "seed": args.seed, "cpus": cpus,
               "pyspark": pyspark.__version__, "loadavg_1m_start": load0,
               "loadavg_1m_end": os.getloadavg()[0],
               "units": res.pop("units"), "passes": res.pop("passes"),
               "unit_s": [round(x, 4) for x in res.pop("unit_s")]}
        if args.trace:
            metrics = _per_layer(b, t_timed, env["passes"], load0)
            units = dict(PER_LAYER)
            if args.workload == "curation_lake":
                units.update(CURATION_LAYER)
            b.tracer.write(
                os.path.join(ROOT, ".perfbench_traces",
                             f"{args.workload}-seed{args.seed}-"
                             f"{b.tracer.run_id}.json"),
                {"env": env, "metrics": metrics})
        else:
            metrics = {"setup_s": setup_s, **res}
            units = END_TO_END
        missing = [k for k in units if k not in metrics]
        if missing:
            print(f"metrics not measured: {missing}", file=sys.stderr)
            return 1
    finally:
        _stop_session(b)
        _shutdown_jvm()
        os.chdir(ROOT)
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps({"env": env}))
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u}
                    for k, (u, _) in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
