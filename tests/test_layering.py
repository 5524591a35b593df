"""Import layering, checked on the source alone (no Spark): product
code under `jobs/` and `fineweb_modal_spark/operators/` never imports
the gate registry `plans.queries`, so a green gate tests the code the
jobs run rather than a copy inside the registry."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PRODUCT_DIRS = (ROOT / "jobs", ROOT / "fineweb_modal_spark" / "operators")


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
