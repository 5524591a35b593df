"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride as `binary` columns with metadata columns
beside them. The Spark-side plumbing is real and tested — schema,
Arrow batch shape, mapInPandas signature, partition behavior; the
actual media decode is a STUB (image/audio libraries are not in this
container): `decode_stub_udf` derives deterministic fake
width/height/checksum values from the bytes.

The metadata path (byte length, magic prefix) is pure built-ins and
fully oracle-checked; the stub decode is ALSO oracle-checked because
its fake outputs are closed-form functions of the byte length —
proving the mapInPandas plumbing produces exactly the declared
values, not just "some rows".

Reference analog: the reference's opaque sidecar payloads (.npy
embeddings memmapped next to parquet, features.py:124-129) — here the
payload is a first-class column instead of a sidecar file.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

DECODE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("byte_len", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("checksum", LongType()),
    ]
)


def with_binary_meta(pages: DataFrame) -> DataFrame:
    """byte_len + magic prefix of the binary column — pure built-ins."""
    return pages.select(
        "doc_id",
        F.octet_length("html").alias("byte_len"),
        F.substring(F.hex("html"), 1, 8).alias("magic_hex"),
    )


def binary_meta_sql(d: str, html_expr: str) -> str:
    """Oracle over the same derived binary column (dialect-portable)."""
    return (
        f"SELECT doc_id, octet_length({html_expr}) AS byte_len, "
        f"substr(hex({html_expr}), 1, 8) AS magic_hex FROM documents"
    )


def _fake_decode(doc_ids: pd.Series, blobs: pd.Series) -> pd.DataFrame:
    """Deterministic stand-in for image decode: dims/checksum are pure
    functions of the payload length (see decode_stub_sql)."""
    lens = blobs.map(len).astype("int64")
    return pd.DataFrame(
        {
            "doc_id": doc_ids.astype("int64"),
            "byte_len": lens,
            "width": (100 + lens % 100).astype("int32"),
            "height": (100 + lens % 77).astype("int32"),
            "checksum": (lens * 2654435761) % 1_000_000_007,
        }
    )


def decode_stub(pages: DataFrame) -> DataFrame:
    """mapInPandas decode over (doc_id, html) — Arrow-batched, 1→1."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _fake_decode(pdf["doc_id"], pdf["html"])

    return pages.select("doc_id", "html").mapInPandas(fn, DECODE_SCHEMA)


def decode_stub_sql(d: str, html_expr: str) -> str:
    """Closed-form oracle for the stub decode outputs."""
    blen = f"octet_length({html_expr})"
    return f"""
SELECT doc_id,
       CAST({blen} AS BIGINT) AS byte_len,
       CAST(100 + {blen} % 100 AS INT) AS width,
       CAST(100 + {blen} % 77 AS INT) AS height,
       (CAST({blen} AS BIGINT) * 2654435761) % 1000000007 AS checksum
FROM documents
""".strip()


RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("out_w", IntegerType()),
        StructField("out_h", IntegerType()),
    ]
)


def resize_stub(decoded: DataFrame, max_side: int = 64) -> DataFrame:
    """Deterministic resize stub over decoded dims: scale the longer
    side to max_side preserving aspect (integer floor math — the same
    closed form as resize_stub_sql). Real impl would be PIL thumbnail
    inside the same mapInPandas."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            w = pdf["width"].astype("int64")
            h = pdf["height"].astype("int64")
            long_side = w.where(w >= h, h)
            out_w = (w * max_side // long_side).astype("int32")
            out_h = (h * max_side // long_side).astype("int32")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "width": w.astype("int32"),
                    "height": h.astype("int32"),
                    "out_w": out_w,
                    "out_h": out_h,
                }
            )

    return decoded.select("doc_id", "width", "height").mapInPandas(
        fn, RESIZE_SCHEMA
    )


def resize_stub_sql(d: str, html_expr: str, max_side: int = 64) -> str:
    blen = f"octet_length({html_expr})"
    w = f"(100 + {blen} % 100)"
    h = f"(100 + {blen} % 77)"
    return f"""
SELECT doc_id,
       CAST({w} AS INT) AS width,
       CAST({h} AS INT) AS height,
       CAST(({w} * {max_side}) // greatest({w}, {h}) AS INT) AS out_w,
       CAST(({h} * {max_side}) // greatest({w}, {h}) AS INT) AS out_h
FROM documents
""".strip()


FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("byte_offset", LongType()),
    ]
)


def frame_sample_stub(pages: DataFrame, n_frames: int = 4) -> DataFrame:
    """1→N flat-map over an opaque 'video' payload: emit n_frames
    deterministic byte offsets (k·len/n). Real impl: pyav keyframe
    seek inside the same mapInPandas — identical Spark plumbing."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            lens = pdf["html"].map(len)
            ids, idxs, offs = [], [], []
            for did, ln in zip(pdf["doc_id"], lens):
                for k in range(n_frames):
                    ids.append(int(did))
                    idxs.append(k)
                    offs.append(int(k * ln // n_frames))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "byte_offset": pd.Series(offs, dtype="int64"),
                }
            )

    return pages.select("doc_id", "html").mapInPandas(fn, FRAME_SCHEMA)


def frame_sample_sql(d: str, html_expr: str, n_frames: int = 4) -> str:
    blen = f"octet_length({html_expr})"
    if d == "spark":
        return f"""
SELECT doc_id, CAST(k AS INT) AS frame_idx,
       CAST((k * {blen}) DIV {n_frames} AS BIGINT) AS byte_offset
FROM documents LATERAL VIEW explode(sequence(0, {n_frames - 1})) t AS k
""".strip()
    return f"""
SELECT doc_id, CAST(k AS INT) AS frame_idx,
       CAST((k * {blen}) // {n_frames} AS BIGINT) AS byte_offset
FROM documents, generate_series(0, {n_frames - 1}) t(k)
""".strip()


# ---------------------------------------------------------------------------
# Feature extraction (the fourth member of the decode / resize /
# frame-sample / feature-extract quartet): an embedding-like vector
# per media payload. Real impl would run a vision tower inside the
# same mapInPandas; the stub derives a deterministic 8-dim feature
# from byte-window checksums so the Spark plumbing (schema, Arrow
# batch shape, downstream hashability) is real and oracle-checked.
# ---------------------------------------------------------------------------

FEATURE_DIM = 8

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("feat_dim", IntegerType()),
        StructField("feat_md5", StringType()),
        StructField("feat_sum", LongType()),
    ]
)


def feature_stub(pages: DataFrame) -> DataFrame:
    """Deterministic per-payload feature vector: value j = checksum of
    the j-th of FEATURE_DIM byte windows (length-based closed form so
    the oracle needs no binary processing). Emits hashable scalars:
    the md5 of the comma-joined vector + its sum."""
    import hashlib

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blens = pdf["html"].str.len().astype("int64")
            feats = []
            for blen in blens:
                v = [
                    ((blen // FEATURE_DIM + j) * 2654435761) % 1_000_000_007
                    for j in range(FEATURE_DIM)
                ]
                feats.append(v)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "feat_dim": FEATURE_DIM,
                    "feat_md5": [
                        hashlib.md5(
                            ",".join(str(x) for x in v).encode()
                        ).hexdigest()
                        for v in feats
                    ],
                    "feat_sum": [sum(v) for v in feats],
                }
            )

    return pages.select("doc_id", "html").mapInPandas(fn, FEATURE_SCHEMA)


def feature_stub_sql(d: str, html_expr: str) -> str:
    """Closed-form oracle: re-derive the window checksums from the
    payload length and hash the same comma-joined rendering."""
    blen = f"CAST(octet_length({html_expr}) AS BIGINT)"
    vec = (
        f"list_transform(generate_series(0, {FEATURE_DIM - 1}), "
        f"j -> (({blen} // {FEATURE_DIM} + j) * 2654435761) % 1000000007)"
    )
    return f"""
SELECT doc_id,
       CAST({FEATURE_DIM} AS INT) AS feat_dim,
       md5(array_to_string({vec}, ',')) AS feat_md5,
       CAST(list_sum({vec}) AS BIGINT) AS feat_sum
FROM documents
""".strip()
