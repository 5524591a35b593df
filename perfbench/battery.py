"""The heavy query families, timed once warm in a traced run.

One rotation calls the engine's registry functions for
`dedup_clusters` (operators.dedup), `dedup_repeated_spans`
(operators.spandedup), `full_curation_report`
(plans.queries.curation_record) and `clf_train_gd`
(operators.clftrain) over a small seeded corpus, forces each result
with `collect()` and checks its order-insensitive fingerprint against
the DuckDB oracle's. The first rotation is cold and only checked; the
second is timed, one span per family, and its Spark jobs carry the
span's job group so the event log attributes them.

The corpus is written as an sf directory (`documents.parquet`,
`embeddings.parquet`) under the run's work root: documents from
`datagen.documents` with doc ids 0..n-1 (the ids the planted
near-dup and span corpora offset from), and unit-norm 64-d
embeddings with labels 0..9 (label 0 seeds the edu centroid).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen

# the dedup_clusters oracle (a recursive CTE) grows fast with the
# corpus: 0.9 s at 250 docs, 5 s at 500; the Spark side is mostly
# fixed per-job cost at either size
BATTERY_DOCS = 250
EMBED_DIM = 64
# trace ids of the two rotations
COLD, WARM = "battery0", "battery1"
# span name -> registry query
FAMILIES = {
    "dedup.clusters": "dedup_clusters",
    "spandedup.spans": "dedup_repeated_spans",
    "curation.report": "full_curation_report",
    "clftrain.gd": "clf_train_gd",
}


def embeddings(seed: int, n: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    v = rng.normal(size=(n, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n, dtype=np.int32)),
    })


def write_corpus(seed: int, sf_dir: str, n: int = BATTERY_DOCS) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    docs = datagen.documents(seed * 1_000_003 + 999_983, np.arange(n, dtype=np.int64))
    pq.write_table(docs, os.path.join(sf_dir, "documents.parquet"))
    pq.write_table(embeddings(seed, n), os.path.join(sf_dir, "embeddings.parquet"))


def expected(con, sf_dir: str) -> dict[str, tuple]:
    """Oracle fingerprint per family, fetched through pandas as the
    engine's oracle-compare harness does."""
    import __spark_entry__ as entry
    from tools.compare_oracle import frame_fingerprint

    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(sf_dir, t + '.parquet')}')"
        )
    oracles = entry.oracle_sql()
    out = {}
    for name in FAMILIES.values():
        df = con.execute(oracles[name]).df()
        out[name] = frame_fingerprint(
            list(df.columns), [tuple(r) for r in df.itertuples(index=False, name=None)]
        )
    return out


def rotation(spark, sf_dir: str, span, trace: str, want: dict) -> list[str]:
    """One call of every family, each inside `span(name, trace)`;
    returns the families whose result differs from the oracle."""
    import __spark_entry__ as entry
    from tools.compare_oracle import frame_fingerprint

    qs = entry.queries()
    errs = []
    for layer, name in FAMILIES.items():
        try:
            with span(layer, trace):
                df = qs[name](spark, sf_dir)
                rows = [tuple(r) for r in df.collect()]
        except Exception as e:  # noqa: BLE001 -- a failed call is a counted result
            errs.append(f"{trace} {name}: {type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}")
            continue
        got = frame_fingerprint(df.columns, rows)
        if got != want[name]:
            errs.append(f"{trace} {name}: got {got}, want {want[name]}")
    return errs
