"""Every example runs end-to-end in one shared session (the reference's
examples are not CI-gated -- SURVEY §5 -- ours are)."""

from __future__ import annotations

import importlib
import os
import sys
import tempfile
from pathlib import Path

import pytest

EXAMPLES = [
    "e01_past_greeter",
    "e02_ticking",
    "e03_spread",
    "e04_trade_pnl",
    "e05_retail_cart",
    "e06_feedback",
    "e07_stats_vwap",
    "e08_dynamic_demux",
    "e09_past_to_live",
    "e10_live_socket",
    "e11_llm_curation",
    "e12_multimodal_lake",
    "e13_analytics_suite",
    "e14_embedding_graph",
    "e15_corpus_curation",
    "e16_ops_observability",
    "e17_data_selection",
    "e18_vector_index",
    "e19_curation_round6",
    "e20_streaming_intake",
    "e21_eval_sweep",
    "e22_versioned_corpus",
    "e23_lakehouse_cdc",
    "e24_lakehouse_hardening",
    "e25_operational_recovery",
    "e26_dml_suite",
    "e27_live_feedback",
    "e28_out_of_order_ops",
    "e29_entity_resolution",
]

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "examples"))


#: Temp entries that outlive one example by design and go at process
#: exit: the replay fixtures ``__spark_entry__`` caches, each
#: ``drain()``'s sink directory (its result is a lazy read of it), and
#: the artifact directory and native libraries the JVM unpacks on first
#: use.
PROCESS_LIFETIME = ("asp_tsplit_", "asp_tshuf_", "asp_drain_",
                    "artifacts-", "liblz4-java-", "snappy-")


@pytest.mark.parametrize("name", EXAMPLES)
def test_example_runs(spark, name):
    before = set(os.listdir(tempfile.gettempdir()))
    mod = importlib.import_module(name)
    result = mod.main(spark)
    assert result is not None
    left = {e for e in set(os.listdir(tempfile.gettempdir())) - before
            if not e.startswith(PROCESS_LIFETIME)}
    assert not left, f"{name} left temp entries: {sorted(left)}"
