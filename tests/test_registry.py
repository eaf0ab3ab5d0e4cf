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


ANN_ORACLE_KEYS = (
    "knn_bruteforce", "knn_lsh", "ann_recall", "ivfpq_recall", "sq8_recall",
    "matryoshka_recall", "hamming_recall", "hamming_rerank_recall",
    "pq_rotation_recall", "knn_refine", "knn_hamming_rerank",
)


def _module_functions(rel: str) -> dict[str, ast.FunctionDef]:
    tree = ast.parse((ROOT / rel).read_text())
    return {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}


def _left_joins(fn: ast.FunctionDef) -> bool:
    """Does ``fn`` build a DataFrame ``"left"`` join or SQL ``LEFT JOIN``
    (docstrings aside)?"""
    doc = fn.body[0].value if fn.body and isinstance(fn.body[0], ast.Expr) \
        else None
    for n in ast.walk(fn):
        if isinstance(n, ast.Call) and _dotted(n.func).endswith(".join"):
            args = [*n.args, *(k.value for k in n.keywords)]
            if any(isinstance(a, ast.Constant) and a.value == "left"
                   for a in args):
                return True
        if (isinstance(n, ast.Constant) and n is not doc
                and isinstance(n.value, str) and "LEFT JOIN" in n.value):
            return True
    return False


def test_one_recall_harness_and_composed_ann_oracles():
    """Every ANN recall row is measured one way: in ``similarity.py``
    only ``recall_at_k`` reads the cached exact ground truth, and only
    it and its DuckDB twin ``sql_recall_at_k`` left-join an index's
    top-k onto that ground truth (``semdedup``'s left join marks
    dominated vectors and is the one other).  The ANN oracles are
    calls composing the shared ``sql_*`` fragments, never inline SQL."""
    funcs = _module_functions("async_stream_processing_spark/llm/similarity.py")
    gt_readers = {
        name for name, fn in funcs.items()
        if any(isinstance(n, ast.Call)
               and _dotted(n.func) == "knn_bruteforce_cached"
               for n in ast.walk(fn))
    }
    assert gt_readers == {"recall_at_k"}
    left = {name for name, fn in funcs.items() if _left_joins(fn)}
    assert left == {"recall_at_k", "sql_recall_at_k",
                    "semdedup", "sql_semdedup"}

    tree = ast.parse((ROOT / "llm_queries.py").read_text())
    oracles: dict[str, list[ast.expr]] = {}
    for d in (n for n in ast.walk(tree) if isinstance(n, ast.Dict)):
        for k, v in zip(d.keys, d.values):
            if isinstance(k, ast.Constant) and k.value in ANN_ORACLE_KEYS:
                oracles.setdefault(k.value, []).append(v)
    assert sorted(oracles) == sorted(ANN_ORACLE_KEYS)
    inline = [key for key, vals in oracles.items()
              if len(vals) != 1 or not isinstance(vals[0], ast.Call)
              or not _dotted(vals[0].func).startswith("sql_")]
    assert not inline, inline
