"""Seeded synthetic inputs for the benchmark.

The documents mimic the shape of the engine's `documents` fixture
(word salad over a 30-word vocabulary, 10-100 words per doc, en-heavy
language mix, 20 sources, ~5% "dup" tail copies and a few exact
copies) plus crawl junk that trips the quality rules, but every value
is a pure function of the seed, so the benchmark needs no data outside
its checkout.

Crawl slices are `pages` rows derived from them with the engine's own
derivation SQL (`pages_select_sql`), rendered for DuckDB so the input
files and the DuckDB oracle see the same pages.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small "
    "join filter big group hash customer sort order slow line part fast "
    "row the agg key query a scan batch"
).split()
LANGS = ["en", "fr", "de", "es", "zh"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
N_SOURCES = 20
DAY_S = 86400


def documents(seed: int, doc_ids: np.ndarray) -> pa.Table:
    """documents(doc_id, text, lang, source, n_chars) for the given ids."""
    rng = np.random.default_rng(seed)
    n = len(doc_ids)
    lens = rng.integers(10, 101, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    vocab = np.array(VOCAB, dtype=object)
    texts = []
    pos = 0
    for ln in lens:
        texts.append(" ".join(vocab[words[pos : pos + ln]]))
        pos += ln
    # ~5% copy an earlier doc and add a tail token; ~0.5% are exact
    # copies; ~10% are crawl junk that trips one quality rule each
    kind = rng.random(n)
    src = rng.integers(0, np.maximum(np.arange(n), 1))
    for i in range(n):
        k = kind[i]
        if i and k < 0.05:
            texts[i] = texts[src[i]] + " dup"
        elif i and k < 0.055:
            texts[i] = texts[src[i]]
        elif 0.90 <= k < 0.93:  # too few words
            texts[i] = " ".join(texts[i].split()[:4])
        elif 0.93 <= k < 0.96:  # one word repeated: low distinct ratio
            texts[i] = " ".join([VOCAB[i % len(VOCAB)]] * int(lens[i] + 25))
        elif 0.96 <= k < 0.98:  # numeric tables: high digit ratio
            texts[i] = " ".join(str(int(x)) for x in words[: lens[i]] * 7919)
        elif 0.98 <= k:  # glued tokens: mean word length out of range
            w = texts[i].split()
            texts[i] = " ".join("".join(w[j : j + 4]) for j in range(0, len(w), 4))
    langs = rng.choice(LANGS, size=n, p=LANG_P)
    ids = np.asarray(doc_ids, dtype=np.int64)
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs.tolist(), pa.string()),
            "source": pa.array([f"src{i % N_SOURCES}" for i in ids], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def day_doc_ids(day: int, n: int) -> np.ndarray:
    """Doc ids whose derived warc_ts (epoch + doc_id seconds) all fall on
    `day`, so a slice lands in exactly one `ds` partition."""
    if n > DAY_S:
        raise ValueError("a day slice holds at most 86400 docs")
    return day * DAY_S + np.arange(n, dtype=np.int64)


def slice_documents(seed: int, day: int, n: int) -> pa.Table:
    # each day draws its own text stream: every slice is new text
    return documents(seed * 1_000_003 + day, day_doc_ids(day, n))


def pages_from_documents(con, docs: pa.Table) -> pa.Table:
    """pages(url, warc_ts, text, lang, doc_id) via the engine's derivation
    SQL on DuckDB; warc_ts is stored UTC-adjusted so Spark reads it as a
    plain TIMESTAMP."""
    from fineweb_modal_spark.sources.pages import pages_select_sql

    con.register("documents", docs)
    try:
        t = con.execute(pages_select_sql("duckdb", with_html=False)).arrow()
    finally:
        con.unregister("documents")
    if not isinstance(t, pa.Table):  # newer DuckDB returns a RecordBatchReader
        t = t.read_all()
    i = t.schema.get_field_index("warc_ts")
    return t.set_column(
        i, "warc_ts", t.column(i).cast(pa.timestamp("us", tz="UTC"))
    )


def write_files(table: pa.Table, out_dir: str, n_files: int, stem: str) -> list[str]:
    """Split `table` into `n_files` contiguous parquet files."""
    os.makedirs(out_dir, exist_ok=True)
    n = table.num_rows
    bounds = [n * k // n_files for k in range(n_files + 1)]
    paths = []
    for k in range(n_files):
        p = os.path.join(out_dir, f"{stem}-{k:03d}.parquet")
        pq.write_table(table.slice(bounds[k], bounds[k + 1] - bounds[k]), p)
        paths.append(p)
    return paths
