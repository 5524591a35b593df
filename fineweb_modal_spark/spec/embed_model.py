"""Deterministic hashed char-n-gram text embedding (hermetic).

Stand-in for the reference's GPU TEI embedding stage
(/root/reference/embed-tei.py:167-176: batch of texts → (n, 768)
float array; experimental/embed.py:114-144 local-model variant).
No torch/transformers offline, so the model is a feature-hashing
projection of the same *shape*: char trigrams → signed buckets →
L2-normalized float32 vector.

Hashing is the repo's portable 60-bit md5 hash (spec/hashing.py:
first 15 hex chars of md5 → BIGINT) — NOT a Python-only hash — so
the ENTIRE embedding is re-derivable relationally in DuckDB (and
Spark SQL): bucket = h % DIM, sign = bit 7 of h. That makes the
embed stage oracle-checkable end-to-end, the same strategy as the
IVF-PQ oracle's relational re-derivation.

Exact-integer signature: the pre-normalization bucket counts are
integers, so `signature_*` exposes (norm_sq = Σc², sig = md5 of the
ordered nonzero "j:c" pairs) — a projection that fully determines
the float vector (v = c/√norm_sq) while hashing EXACTLY across
engines, with no float-parity risk. `counts_sql`/`signature_sql`
render the same spec for either dialect.

The Spark operators (operators/embed.py, operators/chunk_embed.py)
call `embed_batch_with_sig` and the pytest oracle calls `embed_one`;
both normalize through `_unit`, so the two sides cannot diverge (the
reference's own validation strategy — independent re-embed +
dot-product compare, validate.ipynb cells 41-50).
"""

from __future__ import annotations

import hashlib

import numpy as np

from ..functions import sqldialect as sd
from . import hashing as H

DIM = 64
_H15 = 15  # hex chars of md5 used (60-bit, matches hashing.md5_i64)
SIGN_BIT = 7  # sign = bit 7 of the 60-bit hash

# ASCII-pinned edge strip, same class as the SQL renderings
WS_EDGE_CHARS = " \t\n\x0b\f\r"

# gram → (bucket, ±1) memo: the trigram vocabulary of real text is
# tiny relative to the corpus, so this makes hashing amortized O(1)
# per gram; capped so a pathological corpus cannot grow it unbounded.
_GRAM_CACHE: dict[str, tuple[int, int]] = {}
_GRAM_CACHE_CAP = 1 << 20


def _grams(text: str, n: int = 3) -> list[str]:
    t = f" {text.lower().strip(WS_EDGE_CHARS)} "
    if len(t) < n:
        return [t]
    return [t[i : i + n] for i in range(len(t) - n + 1)]


def _gram_bucket_sign(g: str) -> tuple[int, int]:
    hit = _GRAM_CACHE.get(g)
    if hit is not None:
        return hit
    h = int(hashlib.md5(g.encode("utf-8")).hexdigest()[:_H15], 16)
    out = (h % DIM, 1 if (h >> SIGN_BIT) & 1 else -1)
    if len(_GRAM_CACHE) < _GRAM_CACHE_CAP:
        _GRAM_CACHE[g] = out
    return out


def counts_one(text: str) -> np.ndarray:
    """Exact integer bucket counts (len DIM, int64) — the embedding
    before normalization."""
    c = np.zeros(DIM, dtype=np.int64)
    for g in _grams(text if text else ""):
        j, s = _gram_bucket_sign(g)
        c[j] += s
    return c


def _unit(c: np.ndarray) -> np.ndarray:
    """Counts → float32 vector, L2-normalized (or zero)."""
    v = c.astype(np.float32)
    n = np.float32(np.sqrt(np.float32((v * v).sum())))
    if n > 0:
        v = (v / n).astype(np.float32)
    return v


def embed_one(text: str) -> np.ndarray:
    return _unit(counts_one(text))


def signature_one(text: str) -> tuple[int, str]:
    """(norm_sq, sig) — exact-integer projection of the embedding.

    norm_sq = Σ c_j² (BIGINT); sig = md5 hex of 'j:c' for the nonzero
    buckets in ascending j, comma-joined ('' when all-zero). Matches
    the SQL rendering byte-for-byte."""
    c = counts_one(text)
    norm_sq = int((c * c).sum())
    parts = ",".join(f"{j}:{int(c[j])}" for j in range(DIM) if c[j] != 0)
    return norm_sq, hashlib.md5(parts.encode("utf-8")).hexdigest()


def embed_batch_with_sig(
    texts: list[str],
) -> tuple[np.ndarray, list[int], list[str]]:
    """One pass over the gram stream for vector + signature."""
    vecs = np.zeros((len(texts), DIM), dtype=np.float32)
    ns: list[int] = []
    sigs: list[str] = []
    for i, t in enumerate(texts):
        c = counts_one(t)
        vecs[i] = _unit(c)
        ns.append(int((c * c).sum()))
        parts = ",".join(f"{j}:{int(c[j])}" for j in range(DIM) if c[j] != 0)
        sigs.append(hashlib.md5(parts.encode("utf-8")).hexdigest())
    return vecs, ns, sigs


# ---------------------------------------------------------------------------
# SQL renderings (both dialects) — the relational re-derivation of the
# gram → bucket → count pipeline, used by the DuckDB gate oracles.
# ---------------------------------------------------------------------------


def grams_sql(text_expr: str, d: str) -> str:
    """Array of char trigrams of ' '||lower(strip(text))||' ' (one
    whole-string gram when shorter than 3 chars) — mirrors _grams."""
    coalesced = f"coalesce({text_expr}, '')"
    s = f"(' ' || lower({sd.ws_trim(coalesced, d)}) || ' ')"
    seq = (
        f"sequence(1, greatest(length({s}) - 2, 1))"
        if d == sd.SPARK
        else f"generate_series(1, greatest(length({s}) - 2, 1))"
    )
    fn = "transform" if d == sd.SPARK else "list_transform"
    return f"{fn}({seq}, i -> substr({s}, i, 3))"


def counts_sql(
    d: str,
    table: str = "documents",
    text_col: str = "text",
    key_cols: str = "doc_id",
) -> str:
    """SELECT key_cols, j, c — exact integer bucket counts per row.

    One md5 per gram (the explode is the only non-row-local step; the
    group-by is on (key, j), a two-phase partial agg in Spark)."""
    g = grams_sql(text_col, d)
    if d == sd.SPARK:
        inner = f"SELECT {key_cols}, explode({g}) AS gram FROM {table}"
        shift = f"(shiftright(hv, {SIGN_BIT}) & 1)"
    else:
        inner = f"SELECT {key_cols}, unnest({g}) AS gram FROM {table}"
        shift = f"((hv >> {SIGN_BIT}) & 1)"
    hv = H.md5_i64("gram", d)
    return (
        f"SELECT {key_cols}, hv % {DIM} AS j, "
        f"CAST(sum(CASE WHEN {shift} = 1 THEN 1 ELSE -1 END) AS BIGINT) AS c "
        f"FROM (SELECT {key_cols}, {hv} AS hv FROM ({inner})) "
        f"GROUP BY {key_cols}, j"
    )


def signature_sql(
    d: str,
    table: str = "documents",
    text_col: str = "text",
    key_cols: str = "doc_id",
) -> str:
    """SELECT key_cols, norm_sq, sig — mirrors signature_one."""
    counts = counts_sql(d, table=table, text_col=text_col, key_cols=key_cols)
    if d == sd.SPARK:
        # collect_list drops the NULL (c=0) entries; array_sort on the
        # struct orders by j (first field) ascending
        pair = (
            "md5(concat_ws(',', transform(array_sort(collect_list("
            "CASE WHEN c <> 0 THEN struct(j, c) END)), "
            "p -> concat(CAST(p.j AS STRING), ':', CAST(p.c AS STRING)))))"
        )
    else:
        pair = (
            "md5(coalesce(string_agg(CASE WHEN c <> 0 THEN "
            "CAST(j AS VARCHAR) || ':' || CAST(c AS VARCHAR) END, "
            "',' ORDER BY j), ''))"
        )
    return (
        f"SELECT {key_cols}, CAST(sum(c * c) AS BIGINT) AS norm_sq, "
        f"{pair} AS sig FROM ({counts}) GROUP BY {key_cols}"
    )
