"""The query registry: `QUERY_ORDER` is the one declaration of every query
name, and `queries()` / `oracle_sql()` keep their keys and order.  No Spark
session is needed: the registry only maps names to plan builders."""

from __future__ import annotations

import ast
import hashlib
from pathlib import Path

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


ROOT = Path(__file__).resolve().parents[1]


def _dotted(func: ast.expr) -> str:
    if isinstance(func, ast.Attribute):
        return f"{_dotted(func.value)}.{func.attr}"
    return func.id if isinstance(func, ast.Name) else ""


def _sets_max_files(call: ast.Call) -> bool:
    args = [a.value for a in call.args if isinstance(a, ast.Constant)]
    return _dotted(call.func).endswith((".option", ".options")) and (
        "maxFilesPerTrigger" in args
        or any(k.arg == "maxFilesPerTrigger" for k in call.keywords)
    )


def test_one_way_to_land_replay_batches_and_scratch_dirs():
    """Replay batch files are landed only by ``land_batches`` and read
    back only through ``replay_stream``: no registry, fuzzer or example
    code sets mtimes or ``maxFilesPerTrigger`` itself.  And a query's
    scratch lake is one ``TemporaryDirectory`` scope, so no ``q_*``
    function reserves a directory with ``mkdtemp``."""
    files = ["__spark_entry__.py", "llm_queries.py", "tools/fuzz_folds.py",
             *sorted(str(p.relative_to(ROOT))
                     for p in (ROOT / "examples").glob("*.py"))]
    bad = []
    for rel in files:
        tree = ast.parse((ROOT / rel).read_text())
        for call in (n for n in ast.walk(tree) if isinstance(n, ast.Call)):
            if _dotted(call.func) in ("os.utime", "utime") or \
                    _sets_max_files(call):
                bad.append(f"{rel}:{call.lineno}")
        for fn in ast.walk(tree):
            if isinstance(fn, ast.FunctionDef) and fn.name.startswith("q_"):
                bad += [f"{rel}:{n.lineno} {fn.name}" for n in ast.walk(fn)
                        if isinstance(n, ast.Call)
                        and _dotted(n.func) == "tempfile.mkdtemp"]
    assert not bad, bad
