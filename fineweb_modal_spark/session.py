"""The engine's one session configuration.

`SQL_CONF` holds every runtime SQL setting; `configure(spark)` applies
it. `get_spark`, the spark-submit job, `__spark_entry__.entry` and the
gate registry's dispatch call it, and nothing else sets a conf. Each
value is also the right default at cluster scale.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

TZ = "spark.sql.session.timeZone"
SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"

SQL_CONF: dict[str, str] = {
    TZ: "UTC",  # every oracle is UTC
    # adaptive execution: runtime re-plan, skew splitting
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow batches sized for the vectorized UDFs
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # scan sizing (100 TB: 128 MiB splits is the sane default)
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply `SQL_CONF`, plus shuffle partitions = defaultParallelism,
    to `spark`. A key given at launch (`spark-submit --conf`, a builder
    option) keeps its launch value, except the timezone: always UTC."""
    launch = spark.sparkContext.getConf()
    table = {
        SHUFFLE_PARTITIONS: str(spark.sparkContext.defaultParallelism),
        **SQL_CONF,
    }
    for k, v in table.items():
        spark.conf.set(k, v if k == TZ else launch.get(k, v))
    return spark


def get_spark(
    master: str | None = None,
    app_name: str = "fineweb-modal-spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession and `configure` it. master
    defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default: the cores
    this process may run on); `extra_conf` holds launch settings."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
        master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # local-mode default heap is 1 GiB; string-heavy plans want more
        # (effective only if this process hasn't launched the JVM yet)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # keep driver UI quiet in tests
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return configure(builder.getOrCreate())
