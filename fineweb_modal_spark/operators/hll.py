"""HyperLogLog distinct-count sketch — deterministic, mergeable,
dual-rendered (Flajolet et al. 2007, public algorithm).

Distinct counts at 100 TB (`count(DISTINCT url)` per crawl, vocab
size per shard) shuffle every distinct key; an HLL register set is m
integers per group, built as a two-phase `max` partial agg and MERGED
across groups/shards by bucket-wise max — the re-aggregation property
the hypertable rollup gate exercises for sums, here for distincts.

Determinism (what makes this gate hash-checkable, unlike Spark's
built-in approx_count_distinct whose sketch is engine-private):

* the portable salted 60-bit md5 hash (spec/hashing.py) splits into
  bucket = h % m and w = h div m (w < 2^(60-P));
* rho(w) = leading-zero count + 1 derives from the BINARY STRING
  length (`bin`/`format('{:b}')`), no float log anywhere;
* the register sum Σ 2^-M_j is computed in FIXED-POINT INTEGER
  arithmetic — Σ (1 << (SCALE - M_j)) as BIGINT — so it is exact and
  ORDER-INDEPENDENT. A double summation here would round differently
  under Spark's nondeterministic partial-agg order vs DuckDB's scan
  order; integers close that hole. The single int→double conversion
  and the α·m²·2^SCALE / S division are IEEE-deterministic on both
  engines.

Sizing: m=256 → σ ≈ 1.04/√m ≈ 6.5%. The small-range correction
(E ≤ 2.5m, uses ln) is NOT implemented — callers pick m ≪ expected
cardinality / 2.5; the gate's inputs are all ≥ 8·m.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import sqldialect as sd
from ..spec import hashing as H

HLL_P = 8
HLL_M = 1 << HLL_P  # 256 buckets
_W_BITS = 60 - HLL_P  # w < 2^52
_SCALE = _W_BITS + 1  # max rho = 53; terms 1 << (SCALE - rho) >= 1
# alpha_m for m >= 128 (Flajolet Fig. 3). The constants are cast to
# DOUBLE: Spark reads a bare 0.7213 as a DECIMAL and divides in decimal
# scale, which moves the estimate by ~1e-8 relative to DuckDB's double
# division. In DOUBLE both engines run the same IEEE 754 operations.
_ALPHA = f"(CAST(0.7213 AS DOUBLE) / (1 + CAST(1.079 AS DOUBLE) / {HLL_M}))"


def _bitlen(w: str, d: str) -> str:
    return (
        f"length(bin({w}))" if d == sd.SPARK else f"length(format('{{:b}}', {w}))"
    )


def _register_sql(key_expr: str, d: str) -> tuple[str, str]:
    """(bucket, rho) fragments for one occurrence of key_expr."""
    cast = "STRING" if d == sd.SPARK else "VARCHAR"
    h = H.md5_i64(f"'hll:' || CAST({key_expr} AS {cast})", d)
    bucket = f"(({h}) % {HLL_M})"
    w = f"(({h}) div {HLL_M})" if d == sd.SPARK else f"(({h}) // {HLL_M})"
    rho = (
        f"(CASE WHEN {w} = 0 THEN {_SCALE} "
        f"ELSE {_W_BITS + 1} - {_bitlen(w, d)} END)"
    )
    return bucket, rho


def _estimate_expr(sum_col: str, nz_col: str, d: str) -> str:
    """α·m²·2^SCALE / S where S (BIGINT) = Σ_nonzero 2^(SCALE-M_j)
    + (m - nonzero)·2^SCALE — exact integer, order-independent."""
    one = "CAST(1 AS BIGINT)"
    empty = (
        f"shiftleft({one}, {_SCALE})"
        if d == sd.SPARK
        else f"({one} << {_SCALE})"
    )
    s = f"({sum_col} + ({HLL_M} - {nz_col}) * {empty})"
    num = f"({_ALPHA} * {HLL_M} * {HLL_M} * CAST({empty} AS DOUBLE))"
    return f"round({num} / CAST({s} AS DOUBLE), 6)"


def register_fragments(key_expr: str, d: str) -> tuple[str, str]:
    """Public (bucket, rho) SQL fragments — for callers that embed the
    register build in their own plan (e.g. streaming windowed aggs)."""
    return _register_sql(key_expr, d)


def estimate_expr(sum_col: str, nz_col: str, d: str) -> str:
    """Public estimate expression over (Σ fixed-point terms, nonzero)."""
    return _estimate_expr(sum_col, nz_col, d)


def build_registers(
    df: DataFrame, key_col: str, group_cols: list[str]
) -> DataFrame:
    """(group_cols..., bucket, m_j): nonzero registers per group —
    two-phase max partial agg, ≤ m rows per group per map task."""
    bucket, rho = _register_sql(key_col, sd.SPARK)
    return (
        df.selectExpr(
            *group_cols,
            f"CAST({bucket} AS INT) AS bucket",
            f"CAST({rho} AS INT) AS rho",
        )
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("m_j"))
    )


def merge_registers(registers: DataFrame, label: str = "ALL") -> DataFrame:
    """Bucket-wise max across ALL groups → one merged register set
    (estimates the distinct count of the UNION — exact HLL merge)."""
    gcols = [c for c in registers.columns if c not in ("bucket", "m_j")]
    return registers.groupBy("bucket").agg(F.max("m_j").alias("m_j")).select(
        *[F.lit(label).alias(c) for c in gcols], "bucket", "m_j"
    )


def estimate(registers: DataFrame) -> DataFrame:
    """(group_cols..., n_est): the HLL estimate per group."""
    gcols = [c for c in registers.columns if c not in ("bucket", "m_j")]
    term = f"shiftleft(CAST(1 AS BIGINT), {_SCALE} - m_j)"
    agg = registers.groupBy(*gcols).agg(
        F.expr(f"sum({term})").alias("__s"),
        F.count("*").alias("__nz"),
    )
    return agg.selectExpr(
        *gcols, f"{_estimate_expr('__s', '__nz', sd.SPARK)} AS n_est"
    )


def estimate_oracle_sql(
    items_sql: str, key_col: str, group_col: str, d: str = sd.DUCKDB
) -> str:
    """DuckDB re-derivation: per-group registers, a merged ALL group,
    and the same fixed-point estimate."""
    bucket, rho = _register_sql(key_col, d)
    term = f"(CAST(1 AS BIGINT) << ({_SCALE} - m_j))"
    return f"""
WITH items AS ({items_sql}),
regs AS (
  SELECT {group_col} AS grp, {bucket} AS bucket, max({rho}) AS m_j
  FROM items GROUP BY 1, 2
),
allregs AS (
  SELECT 'ALL' AS grp, bucket, max(m_j) AS m_j FROM regs GROUP BY bucket
),
every AS (SELECT * FROM regs UNION ALL SELECT * FROM allregs),
sums AS (
  -- CAST: duckdb sums BIGINT into HUGEINT; pin both engines to BIGINT
  SELECT grp, CAST(sum({term}) AS BIGINT) AS __s,
         CAST(count(*) AS BIGINT) AS __nz
  FROM every GROUP BY grp
)
SELECT grp, {_estimate_expr("__s", "__nz", d)} AS n_est FROM sums
""".strip()
