"""One place decides a shuffle-partition count: the session factory and
``shuffle_guard``, which pins ``PINNED_SHUFFLE_PARTITIONS`` around a
stream's start (in ``drain`` and the two queries that start their own
sink) and around the two iterative batch loops.  A static scan of the
registry, the package and the tools; no Spark session is needed."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
SCANNED = [
    ROOT / "__spark_entry__.py",
    ROOT / "llm_queries.py",
    *sorted((ROOT / "async_stream_processing_spark").rglob("*.py")),
    *sorted((ROOT / "tools").rglob("*.py")),
]
#: (file, enclosing function) pairs allowed to choose a count; ``None``
#: allows the whole file
ALLOWED = {
    ("async_stream_processing_spark/session.py", None),
    ("async_stream_processing_spark/streaming/replay.py", "shuffle_guard"),
    ("async_stream_processing_spark/streaming/replay.py", "drain"),
    ("async_stream_processing_spark/llm/similarity.py", "kmeans_train"),
    ("async_stream_processing_spark/llm/dedup.py", "connected_components"),
    ("__spark_entry__.py", "_drain_into_lake"),
    ("__spark_entry__.py", "q_stream_upsert_state"),
}


def _callee(node: ast.Call) -> str | None:
    f = node.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


def _violations(path: Path, root: Path = ROOT) -> list[str]:
    rel = path.relative_to(root).as_posix()
    if (rel, None) in ALLOWED:
        return []
    tree = ast.parse(path.read_text(), str(path))
    docstrings = {
        id(n.value) for n in ast.walk(tree)
        if isinstance(n, ast.Expr) and isinstance(n.value, ast.Constant)
    }
    found = []

    def visit(node: ast.AST, func: str | None) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if (rel, func) not in ALLOWED:
            what = None
            if isinstance(node, ast.Call):
                if "shuffle_guard" in (_callee(node) or ""):
                    what = "calls shuffle_guard"
                elif _callee(node) != "get_spark" and any(
                    k.arg == "shuffle_partitions" for k in node.keywords
                ):
                    what = "passes shuffle_partitions="
            elif (isinstance(node, ast.Constant)
                  and isinstance(node.value, str)
                  and "spark.sql.shuffle.partitions" in node.value
                  and id(node) not in docstrings):
                what = "names spark.sql.shuffle.partitions"
            if what:
                found.append(f"{rel}:{node.lineno} ({func}) {what}")
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, None)
    return found


def test_no_call_site_chooses_a_shuffle_partition_count():
    assert [v for p in SCANNED for v in _violations(p)] == []


def test_lint_flags_each_way_of_choosing_a_count(tmp_path):
    """The scan is not vacuous: each forbidden form is reported, and
    ``get_spark(shuffle_partitions=...)`` is not."""
    tools = tmp_path / "tools"
    tools.mkdir()
    probe = tools / "probe.py"
    probe.write_text(
        "def f(spark, df):\n"
        "    spark.conf.set('spark.sql.shuffle.partitions', '4')\n"
        "    with _shuffle_guard(spark):\n"
        "        drain(df, shuffle_partitions=8)\n"
        "    return get_spark('x', shuffle_partitions=4)\n"
    )
    assert [v.split(" ", 2)[2] for v in _violations(probe, tmp_path)] == [
        "names spark.sql.shuffle.partitions",
        "calls shuffle_guard",
        "passes shuffle_partitions=",
    ]
