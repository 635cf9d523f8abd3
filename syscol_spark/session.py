"""SparkSession factory with engine-wide defaults.

Design notes (100 TB scale):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting and
  dynamic broadcast conversion replace hand-tuned partition counts when the
  same plans run on a 1000-executor cluster.
- UTC session timezone: all event-time semantics are wall-clock-free; parquet
  naive timestamps mean the same instant on every executor.
- ns timestamps: the reference stamps envelopes with Unix *nanoseconds*.
  Spark 4 scans TIMESTAMP(NANOS) parquet as timestamp_ntz (µs-truncated);
  sources/tables.py derives canonical ts_ns/ts_us/ts_utc columns from it.
- Arrow enabled: every pandas UDF / mapInPandas crossing is Arrow-batched.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


# Configs the engine REQUIRES on whatever session runs its plans. All are
# runtime-settable SQL confs, so they can be applied to an externally-created
# SparkSession (e.g. the verification driver's) — getOrCreate() ignores
# builder configs when a session already exists.
ENGINE_SQL_CONF = {
    # all temporal semantics are UTC (string→timestamp casts, date_trunc)
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def ensure_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply the engine's required SQL confs to an existing session
    (idempotent; called from every table loader)."""
    for k, v in ENGINE_SQL_CONF.items():
        spark.conf.set(k, v)
    return spark


def get_session(app_name: str = "syscol-spark", *, shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``shuffle_partitions`` defaults to the local core count; on a real
    cluster AQE coalesces the post-shuffle partitions anyway, so this is a
    ceiling, not a tuning knob.
    """
    cores = default_parallelism()
    n_shuffle = shuffle_partitions or cores
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        # keep parquet scans wide enough to parallelize at local scale but
        # bounded so a 100 TB scan yields sane task sizes (default 128 MiB)
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # keep managed tables (bucketing tests/demos) out of the repo tree
        .config("spark.sql.warehouse.dir", os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/syscol-warehouse"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return ensure_engine_conf(spark)
