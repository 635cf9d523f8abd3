"""Batch table catalog over the driver-generated parquet corpus.

Tables (TESTDATA.md): trimmed TPC-H star schema + ``events`` (stream-shaped,
ns timestamps, JSON props) + north-star ``documents`` / ``embeddings``.

Scale notes: these are plain parquet scans — Catalyst pushes filters and
prunes columns into the scan (verify with ``.explain``: PushedFilters /
ReadSchema), so the same loaders work unchanged against a 100 TB lake; only
the path changes. ``events.ts`` is TIMESTAMP(NANOS) parquet, which Spark 4
scans as µs-truncated timestamp_ntz; ``load_table`` derives the canonical
``ts_ns`` / ``ts_us`` / ``ts_utc`` columns from it once, in one place.
"""

from __future__ import annotations

from typing import NamedTuple

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


# Parquet can only split between row groups, so a single small file scans as
# ONE task no matter how many cores exist — every downstream expression runs
# single-threaded until the first shuffle. At lake scale inputs are thousands
# of splits and this shim is a no-op (size-guarded); on a small single file
# the round-robin repartition moves only that file's bytes once and unlocks
# full-width execution for compute-heavy per-row work.
#
# Only ``documents`` and ``embeddings`` get this treatment: their queries do
# per-row regex / trigram / shingle / hash / vector-fold work where
# scan-stage width dominates. For the relational tables the single-task scan
# feeds codegen'd aggregates at millions of rows/sec and the extra exchange
# is a pure tax (measured: it added ~0.3-0.5 s to ~60 cheap catalog queries
# while winning nothing).
_FAN_OUT_TABLES = {"documents", "embeddings"}
_FAN_OUT_BYTES = 128 * 1024 * 1024

# SQL confs under which the same parquet footer infers a different schema
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.mergeSchema",
)


class _Resolved(NamedTuple):
    version: tuple[int, int, int]
    confs: tuple[str, ...]
    schema: StructType
    fan_out: bool


# One entry per table path, replaced when the path's file version or the
# schema confs change: the cache never holds more entries than there are
# distinct table paths. Two threads loading the same new version may both
# infer it; the later write wins and both schemas are the same.
_resolved: dict[str, _Resolved] = {}


def _hadoop_stats(spark: SparkSession, path: str) -> tuple[int, int, int] | None:
    """(total bytes, parquet file count, latest modification time in ms) via
    the Hadoop FileSystem API, the same resolution spark.read uses: a
    schemeless path goes to the default filesystem (local unless configured
    otherwise), and object-store paths (s3a://, gs://, file://…) to theirs.
    The triple is the path's file version: a rewrite, an added file or a
    removed one changes it. A directory costs a few Py4J round trips per
    visible entry; a single file costs one stat."""
    try:
        jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        status = fs.getFileStatus(jpath)
        mtime = int(status.getModificationTime())
        if not status.isDirectory():
            return int(status.getLen()), 1, mtime
        size = n_files = 0
        for s in fs.listStatus(jpath):
            name = s.getPath().getName()
            if name.startswith(("_", ".")):
                continue
            size += int(s.getLen())
            mtime = max(mtime, int(s.getModificationTime()))
            if name.endswith(".parquet"):
                n_files += 1
        return size, n_files, mtime
    except Exception:  # noqa: BLE001 — missing path / unreachable store
        return None


def _resolve(spark: SparkSession, path: str) -> _Resolved | None:
    """The path's schema and fan-out decision, inferred once per file version
    and schema confs; None when the path cannot be stat'ed."""
    version = _hadoop_stats(spark, path)
    if version is None:
        return None
    confs = tuple(spark.conf.get(k) for k in _SCHEMA_CONFS)
    hit = _resolved.get(path)
    if hit is not None and hit.version == version and hit.confs == confs:
        return hit
    schema = spark.read.parquet(path).schema  # the one inference job
    size, n_files, _ = version
    # lower bound: broadcast-sized dims gain nothing from 32 near-empty
    # partitions; they are consumed whole (broadcast) anyway
    fan_out = 256 * 1024 <= size < _FAN_OUT_BYTES and n_files <= 4
    _resolved[path] = hit = _Resolved(version, confs, schema, fan_out)
    return hit


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """A fresh relation over ``{sf_dir}/{name}.parquet``. The schema comes
    from ``_resolve``, so a table whose files have not changed since its last
    load is read without a Spark job; an unreadable path falls through to
    ``spark.read.parquet`` and raises what it raises."""
    from syscol_spark.session import ensure_engine_conf

    ensure_engine_conf(spark)  # session may be externally created
    path = f"{sf_dir}/{name}.parquet"
    resolved = _resolve(spark, path)
    if resolved is None:
        df = spark.read.parquet(path)
    else:
        df = spark.read.schema(resolved.schema).parquet(path)
        if name in _FAN_OUT_TABLES and resolved.fan_out:
            df = df.repartition(spark.sparkContext.defaultParallelism)
    if name == "events":
        # The parquet column is TIMESTAMP(NANOS); Spark 4 scans it as
        # timestamp_ntz, already truncated ns→µs. Derive the canonical
        # columns: ts_ns (int64 ns), ts_us (int64 µs), ts_utc (µs
        # TimestampType). All event-time operators and every DuckDB oracle
        # compare at µs (epoch_us), so the µs-truncated ts_ns is
        # hash-identical to `ts_ns div 1000 * 1000` fidelity. Integer `div`,
        # not `/`: float division of ~1.7e18 ns values loses sub-µs bits.
        ts_dtype = dict(df.dtypes)["ts"]
        if ts_dtype in ("timestamp_ntz", "timestamp"):
            # UTC session timezone makes the ntz→timestamp cast exact. Keep
            # ts_ns in ts's ordinal slot.
            ts_ns = (F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)).alias("ts_ns")
            df = (
                df.select(*[ts_ns if c == "ts" else F.col(c) for c in df.columns])
                .withColumn("ts_us", F.expr("ts_ns div 1000"))
                .withColumn("ts_utc", F.timestamp_micros(F.col("ts_us")))
            )
        else:  # pragma: no cover - fail loudly on the next silent env change
            raise TypeError(f"events.ts scanned as unsupported dtype {ts_dtype!r}")
        got = dict(df.dtypes)
        expected = {"ts_ns": "bigint", "ts_us": "bigint", "ts_utc": "timestamp"}
        bad = {k: got.get(k) for k, v in expected.items() if got.get(k) != v}
        if bad:  # pragma: no cover
            raise TypeError(f"events canonical time columns wrong: {bad}")
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view so ``spark.sql`` queries work."""
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables
