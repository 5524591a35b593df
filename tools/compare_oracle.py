"""Local mimic of the driver's correctness gate.

Runs each __spark_entry__.queries()[name] on Spark and the matching
oracle_sql()[name] on DuckDB over the same sf dir, then compares
row count, column names and an order-insensitive value hash —
approximating CORRECTNESS_r{N}.json so mismatches surface before the
driver runs.

Usage: python tools/compare_oracle.py [sf_dir] [query ...]
       python tools/compare_oracle.py --json OUT.json [sf_dir]
       python tools/compare_oracle.py --tz America/New_York [sf_dir]

--tz simulates a driver whose session inherits a non-UTC host
timezone (the r4 `hll_distinct_stream` hash-FAIL environment): the
session timeZone is set to TZ before each gate runs; the registry's
dispatch (`session.configure`) must keep every gate hash-green
regardless.

--json additionally writes the full sweep in the driver's
CORRECTNESS_r{N}.json schema ({name: {rows_match, schema_match,
hash_match, spark_rows, oracle_rows, err}}) — the committed
CORRECTNESS_local_r{N}.json artifacts are produced this way, so the
repo itself proves the FULL registry green each round even when the
driver's row budget rotates queries out.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys

import duckdb
import numpy as np


def _norm_cell(v):
    if v is None:
        return "\0"
    if isinstance(v, (bool, np.bool_)):
        return str(int(v))
    # Type-tagged float rendering: the driver fetches DuckDB results via
    # pandas, where an integer sum() (HUGEINT) degrades to float64 while
    # Spark keeps int64 — tag floats so that divergence hashes differently
    # here too instead of "244" == "244.0" silently passing.
    if isinstance(v, (float, np.floating)):
        if math.isnan(v):
            # pandas uses NaN as the missing marker in numeric columns,
            # so a DuckDB NULL must hash like Spark's None (no gate
            # legitimately computes NaN as a value)
            return "\0"
        return f"f{v:.12g}"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, bytes):
        return v.hex()
    # pandas fetch turns DuckDB DATE into a midnight Timestamp while Spark
    # collect yields datetime.date — render both as midnight datetimes
    # (the driver's canonicalizer treats them as equal).
    import datetime as _dt

    if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
        return f"{v.isoformat()} 00:00:00"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def frame_fingerprint(cols: list[str], rows: list[tuple]) -> tuple[int, str, str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(_norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return len(rows), ",".join(sorted(cols)), h


def run(
    sf_dir: str,
    only: list[str] | None = None,
    json_out: str | None = None,
    session_tz: str | None = None,
) -> bool:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod
    from fineweb_modal_spark.session import get_spark

    spark = get_spark()
    if session_tz:
        print(f"session timeZone set to {session_tz} before each gate (gates must re-pin)")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    ok = True
    record: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if session_tz:
            # hostile-driver simulation: the dispatch itself must re-pin
            spark.conf.set("spark.sql.session.timeZone", session_tz)
        try:
            sdf = fn(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            print(f"{name:36s} SPARK ERROR: {str(e).splitlines()[0]}")
            ok = False
            record[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": None,
                "oracle_rows": None, "err": f"spark: {str(e)[:200]}",
            }
            continue
        sfp = frame_fingerprint(scols, srows)
        # tz-audit trail: which gates emit temporal columns (these are
        # the ones whose rendering depends on the session timezone —
        # the r4 hll_distinct_stream failure class)
        temporal = [
            f"{f.name}:{f.dataType.simpleString()}"
            for f in sdf.schema.fields
            if "timestamp" in f.dataType.simpleString()
            or f.dataType.simpleString() == "date"
        ]
        arrayish = any(
            isinstance(c, (list, tuple, np.ndarray))
            for r in srows[:5]
            for c in r
        )
        if arrayish:
            # The driver canonicalizes through pandas sort_values, which
            # raises on list cells — flag before the driver does.
            print(f"{name:36s} WARNING: array-typed cells — driver gate would crash")
            ok = False
        if name not in oracles:
            print(f"{name:36s} rows={sfp[0]:>7} (rows-only; no oracle)")
            record[name] = {
                "rows_match": None, "schema_match": None,
                "hash_match": None, "spark_rows": sfp[0],
                "oracle_rows": None, "err": "no_oracle",
            }
            if temporal:
                record[name]["temporal_cols"] = temporal
            continue
        try:
            # Fetch through pandas like the driver does, so DuckDB
            # HUGEINT→float64 degradation is reproduced, not hidden.
            odf = con.execute(oracles[name]).df()
            orows = [tuple(r) for r in odf.itertuples(index=False, name=None)]
            ocols = list(odf.columns)
        except Exception as e:  # noqa: BLE001
            print(f"{name:36s} ORACLE ERROR: {str(e).splitlines()[0]}")
            ok = False
            record[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": sfp[0],
                "oracle_rows": None, "err": f"oracle: {str(e)[:200]}",
            }
            continue
        ofp = frame_fingerprint(ocols, orows)
        status = "OK " if sfp == ofp else "MISMATCH"
        if sfp != ofp:
            ok = False
        record[name] = {
            "rows_match": sfp[0] == ofp[0],
            "schema_match": sfp[1] == ofp[1],
            "hash_match": sfp[2] == ofp[2],
            "spark_rows": sfp[0],
            "oracle_rows": ofp[0],
            "err": None,
        }
        if temporal:
            record[name]["temporal_cols"] = temporal
        print(
            f"{name:36s} {status} spark(rows={sfp[0]},h={sfp[2]}) duck(rows={ofp[0]},h={ofp[2]})"
        )
        if sfp[1] != ofp[1]:
            print(f"  cols spark={sfp[1]}")
            print(f"  cols duck ={ofp[1]}")
    if json_out:
        with open(json_out, "w") as f:
            json.dump(record, f, indent=1)
        n_orc = sum(1 for v in record.values() if v["err"] != "no_oracle")
        n_green = sum(1 for v in record.values() if v["hash_match"])
        print(
            f"wrote {json_out}: {len(record)} queries, "
            f"{n_green}/{n_orc} oracled hash-green, "
            f"{len(record) - n_orc} rows-only"
        )
    return ok


if __name__ == "__main__":
    args = sys.argv[1:]
    json_out = None
    session_tz = None
    while args and args[0] in ("--json", "--tz"):
        if args[0] == "--json":
            json_out = args[1]
        else:
            session_tz = args[1]
        args = args[2:]
    sf = args[0] if args else "/root/testdata/sf0.01"
    names = args[1:] or None
    sys.exit(
        0 if run(sf, names, json_out=json_out, session_tz=session_tz) else 1
    )
