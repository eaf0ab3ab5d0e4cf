"""The query registry: `QUERY_ORDER` is the one declaration of every query
name, and `queries()` / `oracle_sql()` keep their keys and order.  No Spark
session is needed: the registry only maps names to plan builders."""

from __future__ import annotations

import hashlib

import pytest

import __spark_entry__ as entrymod
import llm_queries

# (count, sha256 of "\n".join(keys)) of the registry's keys in order; a
# change here is a change to the driver contract, not a refactor.
QUERIES_FROZEN = (
    287, "dec0a993942500a975718f45b51083ec9f8f0235df3b3a92a519fe7083dcafdc"
)
ORACLE_FROZEN = (
    287, "8df317153908ed25a9ac251757815179fcdf4df44dce1d4b829844c4fa81421b"
)


def _frozen(keys) -> tuple[int, str]:
    keys = list(keys)
    return len(keys), hashlib.sha256("\n".join(keys).encode()).hexdigest()


def test_registry_keys_and_order_frozen():
    assert _frozen(entrymod.queries()) == QUERIES_FROZEN
    assert _frozen(entrymod.oracle_sql()) == ORACLE_FROZEN


def test_every_query_function_declared_once():
    order = entrymod.QUERY_ORDER
    assert len(set(order)) == len(order)
    defined = [
        name[2:]
        for mod in (entrymod, llm_queries)
        for name, obj in vars(mod).items()
        if name.startswith("q_") and callable(obj)
    ]
    assert sorted(defined) == sorted(order)
    qs = entrymod.queries()
    assert list(qs) == list(order)
    assert all(fn.__name__ == f"q_{name}" for name, fn in qs.items())


def test_unresolvable_or_ambiguous_name_raises(monkeypatch):
    monkeypatch.setattr(entrymod, "QUERY_ORDER", ("no_such_query",))
    with pytest.raises(LookupError):
        entrymod.queries()
    monkeypatch.setattr(entrymod, "QUERY_ORDER", ("vwap_2min",))
    monkeypatch.setattr(
        llm_queries, "q_vwap_2min", entrymod.q_vwap_2min, raising=False
    )
    with pytest.raises(LookupError):
        entrymod.queries()


def test_gate_window():
    from tools import check_window

    check_window.main()
