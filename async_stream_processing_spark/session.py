"""SparkSession factory tuned for this engine.

The reference engine (``/root/reference/src/async_stream_processing/processor.py:197-206``,
``asp.run``) owns a single global event loop; our analog is a SparkSession with
event-time-friendly defaults.  Settings are chosen for correctness first
(ANSI off so overflow/parse behavior matches DuckDB defaults is NOT needed --
we keep ANSI on, Spark 4 default) and for scale: AQE on, shuffle partitions
sized for the local harness but overridable for a real cluster.
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

#: directory holding this package; Python workers import the daemon shim
#: from here whatever their working directory
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: the fork-free local Hadoop filesystem (``jvm/*.java``; rebuilt by
#: ``tools/build_localfs_jar.py``)
LOCALFS_JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "jvm", "localfs.jar")


#: shuffle partitions ``streaming.replay.shuffle_guard`` pins, whatever
#: the session's own count, for a drained stream's start and for the two
#: iterative batch loops (``kmeans_train``, ``connected_components``):
#: sections whose per-partition setup outweighs their data at local
#: scale -- a state store per partition per stateful micro-batch (four
#: for a stream-stream join), a task per partition per loop round.
#: Measured on a 4-core host (bench.py warm totals, alternating
#: fresh-process pairs, identical rows): the 21 drains that pinned 8
#: took 121.3 s at 4 against 124.5 s (median of 5 pairs, 4 ahead in all
#: 5), the four loop queries 20.6 s against 24.5 s (4 of 4 pairs).  On a
#: cluster, size these to the executors instead.
PINNED_SHUFFLE_PARTITIONS = 4


def localfs_conf(master: str | None) -> dict[str, str]:
    """Settings that swap in the fork-free local filesystem, or ``{}``.

    Without libhadoop, Hadoop's local filesystem forks ``chmod`` for every
    file or directory it creates and ``readlink`` for every ``FileContext``
    rename: over a hundred forks per stateful micro-batch (SCALE.md,
    "Local filesystem").  The jar must be on the driver's classpath when
    the JVM starts, and executors only share it under a local master, so
    nothing is set for another master or once a JVM is running (a reused
    session, or a Python app that ``spark-submit`` started).
    """
    local = master is not None and (master == "local" or master.startswith("local["))
    if not local or SparkContext._gateway is not None \
            or "PYSPARK_GATEWAY_PORT" in os.environ \
            or not os.path.exists(LOCALFS_JAR):
        return {}
    return {
        "spark.driver.extraClassPath": LOCALFS_JAR,
        "spark.hadoop.fs.file.impl": "asyncstream.localfs.NioLocalFileSystem",
        "spark.hadoop.fs.AbstractFileSystem.file.impl":
            "asyncstream.localfs.NioLocalFs",
    }


def get_spark(
    app_name: str = "async-stream-processing-spark",
    shuffle_partitions: int | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    On a real cluster, pass ``master=None`` and let spark-submit decide;
    ``shuffle_partitions`` should be ~2-3x total executor cores there
    (driver harness uses 32 local threads).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        # Runtime re-planning: coalesce tiny shuffle partitions, split skewed
        # joins -- essential at 100 TB, harmless locally.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for every pandas_udf / applyInPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Driver test parquet stores TIMESTAMP(NANOS); read as long and
        # repair in sources.parquet.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # PySpark starts its JVM as ``pyspark-shell``, which turns the
        # console progress bar on; its \r-rewritten ``[Stage N:...]``
        # lines would glue onto every result line a tool prints.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # A session that plans hundreds of DISTINCT heavy queries blows
        # through the 100-entry whole-stage-codegen cache and starts
        # recompiling multi-thousand-line generated classes on every
        # re-evaluation (this engine's PQ/curation expression trees are
        # exactly that shape).  The cache is driver memory holding
        # compiled classes -- thousands of entries are fine on any
        # driver that runs this many queries.  Static conf: must be set
        # before the context starts.
        .config("spark.sql.codegen.cache.maxEntries",
                os.environ.get("SPARK_GRAFT_CODEGEN_CACHE", "3000"))
        # ContextCleaner reclaims RDD persists (localCheckpoint blocks)
        # only after a JVM GC notices their references died; the default
        # periodic-GC interval is 30 min, far longer than a whole bench
        # run, so dead checkpoint blocks from hundreds of queries pile
        # up in the driver-executor heap.  One forced GC a minute keeps
        # steady-state memory flat (measured: a checkpoint-heavy loop
        # recovers from 89 s back to 14 s once the cleaner fires).
        .config("spark.cleaner.periodicGC.interval",
                os.environ.get("SPARK_GRAFT_PERIODIC_GC", "60s"))
        # Python workers fork from a daemon that first drops the archives
        # they need not import from (worker_shim.py): each task's
        # importlib.invalidate_caches() otherwise re-reads the spark-core
        # jar and pyspark.zip directories (SCALE.md, "Python workers").
        .config("spark.python.daemon.module",
                "async_stream_processing_spark.worker_shim")
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
    )
    if master is None and ("SPARK_GRAFT_LOCAL" in os.environ
                           or not os.environ.get("SPARK_MASTER")):
        master = f"local[{cpus}]"
    if master is not None:
        builder = builder.master(master)
    return builder.config(map=localfs_conf(master)).getOrCreate()


TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def register_catalog(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> None:
    """Register the lake's tables as temp views so users can drive the
    whole engine with raw ``spark.sql(...)`` -- the migration path for
    anyone arriving from a SQL system.  Views go through
    ``sources.parquet.load_table`` (nanos-timestamp repair, pushdown
    preserved); missing files are skipped so partial lakes register
    what they have."""
    import os

    from .sources.parquet import load_table

    for t in tables:
        if os.path.exists(os.path.join(sf_dir, f"{t}.parquet")):
            load_table(spark, sf_dir, t).createOrReplaceTempView(t)
