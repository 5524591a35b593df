"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship langid→quality→scrub DAG at
sf0.01 — the same fixtures the oracle gates use; ``queries()``/
``oracle_sql()`` expose every implemented operator (SURVEY.md §2)
with its DuckDB oracle for the sf0.01 correctness gate, in a fixed
order: a committed front list of gates, then registration order (the
correctness check samples the first 50 entries). Registry lives in
fineweb_modal_spark/plans/queries.py.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from fineweb_modal_spark import session as _session  # noqa: E402
from fineweb_modal_spark.plans import pipeline as _pipeline  # noqa: E402
from fineweb_modal_spark.plans import queries as _registry  # noqa: E402

SF001 = "/root/testdata/sf0.01"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the full pipeline rolled up per predicted lang."""
    # the driver's session inherits the host timezone: apply the
    # engine's settings, as the registry dispatch does for every gate
    return _pipeline.pipeline_summary(_session.configure(spark), SF001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _registry.queries()


def oracle_sql() -> dict[str, str]:
    return _registry.oracles()
