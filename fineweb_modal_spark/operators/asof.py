"""As-of (temporal) join — an operator Spark lacks as a primitive.

Joins each fact row to the LATEST dimension row at-or-before its
timestamp per key (prices/rates/config-versions against an event
stream). Spark has no ASOF JOIN; the scale-safe formulation is the
tagged UNION + window fill:

  union(facts tagged 0, dim tagged 1)
    → window per key ordered by (ts, tag DESC)
    → last_value(dim value, ignorenulls) over rows unbounded preceding
    → keep fact rows

ONE shuffle on the join key, no range-explode, no per-fact probe —
versus the naive `fact JOIN dim ON key AND dim.ts <= fact.ts` +
row_number, which materializes every (fact, earlier-dim) pair
(quadratic in versions per key). Keys are the window partitions; a
hot key salts the same way sessionize does at cluster scale.

The DuckDB oracle uses the engine's NATIVE `ASOF JOIN` — a fully
independent second implementation of the semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    facts: DataFrame,
    dim: DataFrame,
    key: str,
    facts_ts: str = "ts",
    dim_ts: str = "rate_ts",
    value_cols: tuple[str, ...] = ("rate",),
) -> DataFrame:
    """Left as-of join: facts + latest dim values with dim_ts <= ts.

    Dim rows sort AFTER fact rows only via tag ordering: at equal
    timestamps the dim row wins (ASOF's <= semantics) because the
    window orders by (ts, tag DESC) and dim carries tag 1.
    """
    f = facts.withColumn("__tag", F.lit(0)).withColumn(
        "__ts", F.col(facts_ts)
    )
    d = dim.select(
        F.col(key),
        F.col(dim_ts).alias("__ts"),
        F.lit(1).alias("__tag"),
        *[F.col(c) for c in value_cols],
    )
    for c in facts.columns:
        if c not in d.columns:
            d = d.withColumn(c, F.lit(None))
    for c in value_cols:
        f = f.withColumn(c, F.lit(None).cast(d.schema[c].dataType))
    u = f.unionByName(d.select(*f.columns))
    w = (
        Window.partitionBy(key)
        .orderBy(F.col("__ts").asc(), F.col("__tag").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = u.select(
        *[c for c in facts.columns],
        "__tag",
        *[
            F.last(
                F.when(F.col("__tag") == 1, F.col(c)), ignorenulls=True
            ).over(w).alias(f"__asof_{c}")
            for c in value_cols
        ],
    )
    out = filled.where(F.col("__tag") == 0).drop("__tag")
    for c in value_cols:
        out = out.drop(c).withColumnRenamed(f"__asof_{c}", c)
    return out

