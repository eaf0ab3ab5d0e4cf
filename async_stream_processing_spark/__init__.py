"""async_stream_processing_spark — a PySpark-native analytics engine with the
query/data-processing capabilities of ``pytek-io/async-stream-processing``.

The reference is a virtual-time nested event loop (its whole runtime is
``processor.py``, 206 LoC); this package re-expresses its *computations* --
replay, last-value joins, running aggregations, sliding windows, keyed
session state, timers, demux -- as declarative DataFrame plans that Catalyst
optimizes and Tungsten executes, plus the LLM-data-pipeline operators
(dedup, similarity search, multimodal columns, text analysis) required for
100 TB training-data work.

Layers
------
plans/       event-relation convention (ts, seq) and stream merging
sources/     parquet replay, synthetic timers/timestamps, websocket DataSource
operators/   the reference's §2.B computation patterns, DataFrame -> DataFrame
functions/   exact numeric aggregation, text, hashing, vector helpers
llm/         dedup (exact/minhash/simhash/jaccard/embedding), ANN, multimodal
streaming/   the same operators under Structured Streaming
"""

__all__ = ["get_spark"]
__version__ = "0.1.0"


def __getattr__(name: str):
    # Lazy (PEP 562): ``python -m async_stream_processing_spark.worker_shim``
    # imports this package and must run before anything imports pyspark.
    if name == "get_spark":
        from .session import get_spark

        return get_spark
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
