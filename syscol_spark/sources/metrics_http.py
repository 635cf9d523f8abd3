"""Polling HTTP metrics source (S1/S2/S3) as a PySpark Python DataSource.

Re-expresses the reference's data plane — poll
``GET http://<host>:<port>/metrics/snapshot`` per node on a fixed interval
(metrics_reporter.go:75-131) — as a Structured Streaming source:

- a batch's hosts are dealt round-robin into one slice per core (option
  ``partitions``; one slice without it) and each task scrapes its slice
  concurrently: the fixed cost of a task is paid per core, not per host
  (one slice for all hosts measured slower than one per core),
- offsets are per-host tick counters → replayable/checkpointable,
- scrape-error tolerance (S3, metrics_reporter.go:89-94): fetch/decode
  failures still emit an envelope with an empty metrics map and the error
  string in an ``error`` column — a batch never fails because a node is down.

Register with ``spark.dataSource.register(MetricsSnapshotDataSource)`` then
``spark.readStream.format("metrics_snapshot").option("hosts", ...)``.
Batch reads (``spark.read``) are supported too (one tick per host).
"""

from __future__ import annotations

import json
import time
from collections.abc import Iterator
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

SOURCE_SCHEMA = StructType(
    [
        StructField("SlaveID", StringType(), False),
        StructField("Hostname", StringType(), False),
        StructField("Port", IntegerType(), False),
        StructField("Namespace", StringType(), True),
        StructField("Timestamp", LongType(), False),
        StructField("Metrics", MapType(StringType(), DoubleType()), False),
        StructField("error", StringType(), True),  # S3: scrape-error column
    ]
)


def fetch_snapshot(host: str, port: int, timeout: float = 5.0) -> tuple[dict[str, float], str | None]:
    """One scrape (metrics_reporter.go:112-131). Returns (metrics, error);
    on any failure the metrics map is empty and error is set — mirroring the
    reference's log-and-continue semantics (:89-94)."""
    import urllib.request

    url = f"http://{host}:{port}/metrics/snapshot"
    try:
        with urllib.request.urlopen(url, timeout=timeout) as resp:  # noqa: S310
            payload = json.loads(resp.read().decode("utf-8"))
        return ({str(k): float(v) for k, v in payload.items()}, None)
    except Exception as e:  # noqa: BLE001
        return ({}, f"{type(e).__name__}: {e}")


def _scrape_row(host: str, port: int, namespace: str) -> tuple:
    metrics, err = fetch_snapshot(host, port)
    return (
        f"slave-{host}:{port}",
        host,
        port,
        namespace,
        time.time_ns(),  # UnixNano when this host's scrape completes (metrics_reporter.go:139)
        metrics,
        err,
    )


class _HostTickPartition(InputPartition):
    def __init__(self, hosts: list[str], port: int, namespace: str):
        self.hosts = hosts
        self.port = port
        self.namespace = namespace


class _HostSlices:
    """Options, layout and read shared by the batch and the stream reader:
    ``min(len(hosts), partitions)`` round-robin slices of the hosts."""

    def __init__(self, schema: StructType, options: dict):
        self.hosts = [h.strip() for h in options.get("hosts", "localhost").split(",") if h.strip()]
        self.port = int(options.get("port", 5051))
        self.namespace = options.get("namespace", "")
        self.slices = min(len(self.hosts), int(options.get("partitions", 1)))

    def partitions(self, *_) -> list[InputPartition]:
        n = self.slices
        return [_HostTickPartition(self.hosts[k::n], self.port, self.namespace) for k in range(n)]

    def read(self, partition: _HostTickPartition) -> Iterator[tuple]:
        # One scrape per micro-batch per host: ticks within a batch coalesce
        # (the reference also drops ticks when a scrape outlasts the
        # interval — ticker semantics). The slice's hosts are scraped at
        # once; ``fetch_snapshot`` never raises, so a failed or slow host
        # yields its error row without holding back or failing the others.
        with ThreadPoolExecutor(max_workers=len(partition.hosts)) as pool:
            yield from pool.map(
                lambda h: _scrape_row(h, partition.port, partition.namespace), partition.hosts
            )


class MetricsSnapshotStreamReader(_HostSlices, DataSourceStreamReader):
    """Offsets: {"tick": n} where n is the EPOCH-based tick
    ``floor(unix_time / interval)`` — not ticks since reader construction.

    Epoch ticks are globally monotonic across process restarts, which is what
    makes checkpoint recovery immediate: a reader constructed after a restart
    reports a latestOffset already past the committed offset, so the next
    micro-batch fires within one interval. (A construction-relative tick
    counter would restart near zero and the stream would stall until
    wall-clock elapsed caught up to the previous run's entire uptime.)
    A monotonic guard absorbs wall-clock steps backwards (NTP)."""

    def __init__(self, schema: StructType, options: dict):
        super().__init__(schema, options)
        self.interval = float(options.get("interval", 1.0))
        self._max_tick = self._epoch_tick()

    def _epoch_tick(self) -> int:
        return int(time.time() / self.interval)

    def initialOffset(self) -> dict:
        return {"tick": self._epoch_tick()}

    def latestOffset(self) -> dict:
        self._max_tick = max(self._max_tick, self._epoch_tick())
        return {"tick": self._max_tick}

    def commit(self, end: dict) -> None:
        pass


class MetricsSnapshotBatchReader(_HostSlices, DataSourceReader):
    pass


class MetricsSnapshotDataSource(DataSource):
    """format("metrics_snapshot") — options: hosts (csv), port, namespace,
    interval (seconds, default 1 = reference ReportingInterval), partitions
    (the session's default parallelism; default 1)."""

    @classmethod
    def name(cls) -> str:
        return "metrics_snapshot"

    def schema(self) -> StructType:
        return SOURCE_SCHEMA

    def reader(self, schema: StructType) -> DataSourceReader:
        return MetricsSnapshotBatchReader(schema, self.options)

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return MetricsSnapshotStreamReader(schema, self.options)
