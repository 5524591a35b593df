"""Layering, checked on the source alone (no Spark).

Product code under `jobs/` and `fineweb_modal_spark/operators/` never
imports the gate registry `plans.queries`, so a green gate tests the
code the jobs run rather than a copy inside the registry. And only
`session.py` sets a session conf, so no stage changes a shared
session's settings while it runs."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PRODUCT_DIRS = (ROOT / "jobs", ROOT / "fineweb_modal_spark" / "operators")
# the tws gate's state-store provider swap: the gate registers only
# when protobuf imports, and moving every stateful stream to RocksDB is
# not checkable without it
CONF_EXCEPTIONS = {("fineweb_modal_spark/plans/queries.py", "q_sessionize_stream_tws")}


def _imports_registry(src: str) -> bool:
    """Whether any import in `src`, at any depth, binds plans.queries
    or a name from it (relative levels dropped: `from ..plans import
    queries` reads as `plans.queries`)."""
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            mod = node.module or ""
            names = [mod, *(f"{mod}.{a.name}" for a in node.names)]
        else:
            continue
        if any(".plans.queries." in f".{n}." for n in names):
            return True
    return False


def test_product_code_imports_no_gate_registry():
    files = [p for d in PRODUCT_DIRS for p in sorted(d.rglob("*.py"))]
    assert len(files) > 10
    offenders = [str(p.relative_to(ROOT)) for p in files if _imports_registry(p.read_text())]
    assert offenders == []


def test_scan_sees_every_import_form():
    for src in (
        "import fineweb_modal_spark.plans.queries",
        "from fineweb_modal_spark.plans import queries as registry",
        "from ..plans import queries",
        "from ..plans.queries import q_dedup_exact",
        "def f():\n    from fineweb_modal_spark.plans.queries import curation_record",
    ):
        assert _imports_registry(src), src
    assert not _imports_registry("from ..plans import pipeline")


def _conf_writes(src: str) -> list[str]:
    """The enclosing function name ("<module>" at top level) of every
    `<x>.conf.set(...)` / `<x>.conf.unset(...)` call in `src`."""
    found: list[str] = []

    def visit(node: ast.AST, fn: str) -> None:
        for child in ast.iter_child_nodes(node):
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr in ("set", "unset")
                and isinstance(child.func.value, ast.Attribute)
                and child.func.value.attr == "conf"
            ):
                found.append(fn)
            is_def = isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
            visit(child, child.name if is_def else fn)

    visit(ast.parse(src), "<module>")
    return found


def test_only_session_sets_conf():
    files = sorted(
        p for d in (ROOT / "jobs", ROOT / "fineweb_modal_spark") for p in d.rglob("*.py")
    )
    session = ROOT / "fineweb_modal_spark" / "session.py"
    assert _conf_writes(session.read_text()) == ["configure"]
    writes = {
        (str(p.relative_to(ROOT)), fn)
        for p in files
        if p != session
        for fn in _conf_writes(p.read_text())
    }
    assert writes - CONF_EXCEPTIONS == set()


def test_scan_sees_both_conf_call_forms():
    assert _conf_writes('spark.conf.set("k", "v")') == ["<module>"]
    assert _conf_writes('spark.conf.unset("k")') == ["<module>"]
    assert _conf_writes(
        "def f(pairs):\n    pairs.sparkSession.conf.set(k, v)"
    ) == ["f"]
    assert _conf_writes(
        "def f(spark):\n    def g():\n        spark.conf.unset(k)"
    ) == ["g"]
    for src in ('spark.conf.get("k")', "s = set()", "builder.config(k, v)"):
        assert _conf_writes(src) == [], src
