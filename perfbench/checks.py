"""Expected results from the engine's DuckDB oracle, and the checks
every increment's observed results must pass.

The oracle is `oracle_sql()["pipeline_scored"]`, the registry's full
relational re-derivation of the langid -> quality -> scrub DAG. It is
run once over the `documents` rows of every slice the run landed and
gives one expected row per page; the manifest counts and the curation
readers' answers are aggregates of those rows.
"""

from __future__ import annotations

import math
from collections import Counter
from dataclasses import dataclass, field


def _none(v):
    """pandas renders SQL NULL as None or NaN; Spark as None."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    return v


@dataclass
class Expected:
    """Per-ds expectations derived from the oracle's per-page rows."""

    # ds -> {"n_rows", "n_keep", "out_chars"}
    manifest: dict[str, dict] = field(default_factory=dict)
    # ds -> Counter[(lang_pred, drop_reason)]
    groups: dict[str, Counter] = field(default_factory=dict)
    # ds -> set of doc ids
    doc_ids: dict[str, set] = field(default_factory=dict)

    @classmethod
    def from_rows(cls, rows, ds_of) -> Expected:
        """rows: dicts with doc_id, lang_pred, keep, drop_reason,
        scrubbed_text; ds_of(doc_id) -> ds string."""
        exp = cls()
        for r in rows:
            ds = ds_of(int(r["doc_id"]))
            m = exp.manifest.setdefault(ds, {"n_rows": 0, "n_keep": 0, "out_chars": 0})
            m["n_rows"] += 1
            m["n_keep"] += int(bool(r["keep"]))
            txt = _none(r["scrubbed_text"])
            m["out_chars"] += len(txt) if txt is not None else 0
            exp.groups.setdefault(ds, Counter())[
                (_none(r["lang_pred"]), _none(r["drop_reason"]))
            ] += 1
            exp.doc_ids.setdefault(ds, set()).add(int(r["doc_id"]))
        return exp


def oracle_rows(con, documents, oracle_sql: str) -> list[dict]:
    """Run one oracle query over a `documents` Arrow table."""
    con.register("documents", documents)
    try:
        df = con.execute(oracle_sql).df()
    finally:
        con.unregister("documents")
    return df.to_dict("records")


def check_manifest(exp: Expected, rows) -> list[str]:
    """rows: manifest rows (dicts with ds, n_rows, n_keep, out_chars)."""
    errs = []
    for r in rows:
        want = exp.manifest.get(r["ds"])
        got = {k: int(r[k] or 0) for k in ("n_rows", "n_keep", "out_chars")}
        if want is None:
            errs.append(f"manifest row for unexpected ds={r['ds']}")
        elif got != want:
            errs.append(f"manifest ds={r['ds']}: got {got}, want {want}")
    return errs


def check_groups(exp: Expected, window, got_rows) -> list[str]:
    """got_rows: (lang_pred, drop_reason, count) over the ds window."""
    want: Counter = Counter()
    for ds in window:
        want.update(exp.groups.get(ds, Counter()))
    got = Counter({(lp, dr): int(n) for lp, dr, n in got_rows})
    if got != want:
        diff = {k: (got.get(k, 0), want.get(k, 0)) for k in set(got) | set(want) if got.get(k, 0) != want.get(k, 0)}
        return [f"reader groups over {list(window)}: (got, want) {diff}"]
    return []


def check_window(exp: Expected, window, got_rows) -> list[str]:
    """The manifest reader must return exactly one row per ds in the
    window, each equal to the oracle's counts."""
    errs = check_manifest(exp, got_rows)
    got_ds = sorted(r["ds"] for r in got_rows)
    if got_ds != sorted(window):
        errs.append(f"manifest reader returned ds {got_ds}, want {sorted(window)}")
    return errs


def check_doc_ids(exp: Expected, days, got_ids) -> list[str]:
    """Every landed page committed exactly once: no duplicates, none missing."""
    want = set().union(*(exp.doc_ids.get(ds, set()) for ds in days)) if days else set()
    counts = Counter(got_ids)
    dups = sum(1 for c in counts.values() if c > 1)
    missing = len(want - counts.keys())
    extra = len(counts.keys() - want)
    if dups or missing or extra:
        return [f"output rows: {dups} duplicated, {missing} missing, {extra} unexpected doc ids"]
    return []
