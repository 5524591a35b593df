"""Layering, checked on the source alone (no Spark).

Product code under `jobs/` and `fineweb_modal_spark/operators/` never
imports the gate registry `plans.queries`, so a green gate tests the
code the jobs run rather than a copy inside the registry. Only
`session.py` sets a session conf, so no stage changes a shared
session's settings while it runs. And only `sinks.py` overwrites a
path: every job output and model is staged and swapped in by rename,
so a failed write leaves the previous one whole."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PRODUCT_DIRS = (ROOT / "jobs", ROOT / "fineweb_modal_spark" / "operators")
# the tws gate's state-store provider swap: the gate registers only
# when protobuf imports, and moving every stateful stream to RocksDB is
# not checkable without it
CONF_EXCEPTIONS = {("fineweb_modal_spark/plans/queries.py", "q_sessionize_stream_tws")}
# the arrow_ipc writer gate round-trips its own scratch directory,
# which no reader shares
OVERWRITE_EXCEPTIONS = {("fineweb_modal_spark/plans/queries.py", "q_arrow_ipc_writer_roundtrip")}


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


def _enclosing(src: str, pred) -> list[str]:
    """The enclosing function name ("<module>" at top level) of every
    node of `src` that `pred` accepts."""
    found: list[str] = []

    def visit(node: ast.AST, fn: str) -> None:
        for child in ast.iter_child_nodes(node):
            if pred(child):
                found.append(fn)
            is_def = isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
            visit(child, child.name if is_def else fn)

    visit(ast.parse(src), "<module>")
    return found


def _is_conf_write(node: ast.AST) -> bool:
    """A `<x>.conf.set(...)` / `<x>.conf.unset(...)` call."""
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("set", "unset")
        and isinstance(node.func.value, ast.Attribute)
        and node.func.value.attr == "conf"
    )


def _is_overwrite(node: ast.AST) -> bool:
    """A `.mode("overwrite")` call, positional or `saveMode=`, on one
    line or several."""
    if not (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "mode"
    ):
        return False
    args = [*node.args, *(k.value for k in node.keywords)]
    return any(isinstance(a, ast.Constant) and a.value == "overwrite" for a in args)


def _is_write(node: ast.AST) -> bool:
    """A `<x>.write` attribute (a DataFrameWriter)."""
    return isinstance(node, ast.Attribute) and node.attr == "write"


def _conf_writes(src: str) -> list[str]:
    return _enclosing(src, _is_conf_write)


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


def test_only_sinks_overwrites():
    jobs = sorted((ROOT / "jobs").rglob("*.py"))
    assert jobs
    assert [str(p.relative_to(ROOT)) for p in jobs if _enclosing(p.read_text(), _is_write)] == []
    sinks = ROOT / "fineweb_modal_spark" / "sinks.py"
    assert _enclosing(sinks.read_text(), _is_overwrite)
    overwrites = {
        (str(p.relative_to(ROOT)), fn)
        for p in sorted((ROOT / "fineweb_modal_spark").rglob("*.py"))
        if p != sinks
        for fn in _enclosing(p.read_text(), _is_overwrite)
    }
    assert overwrites - OVERWRITE_EXCEPTIONS == set()


def test_scan_sees_both_overwrite_forms():
    assert _enclosing('df.write.mode("overwrite").parquet(p)', _is_overwrite) == ["<module>"]
    assert _enclosing(
        'def f(df):\n    df.write.mode(\n        "overwrite"\n    ).parquet(p)', _is_overwrite
    ) == ["f"]
    assert _enclosing('df.write.mode(saveMode="overwrite").save(p)', _is_overwrite) == ["<module>"]
    for src in ('df.write.mode("append").parquet(p)', "df.write.parquet(p)"):
        assert _enclosing(src, _is_overwrite) == [], src
    assert _enclosing("def f(df):\n    return df.write", _is_write) == ["f"]
    assert _enclosing("warc.write_wet_shards(df, d)", _is_write) == []
