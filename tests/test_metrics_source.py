"""Polling HTTP source tests against a local stub /metrics/snapshot server
(the reference polls the Mesos slave endpoint; SURVEY.md §2.1 S1-S3)."""

from __future__ import annotations

import http.server
import json
import threading
import time

import pytest


@pytest.fixture(scope="module")
def stub_server():
    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802
            if self.path == "/metrics/snapshot":
                body = json.dumps({"slave/cpus_total": 4.0, "slave/mem_total": 2048.0}).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.end_headers()
                self.wfile.write(body)
            else:
                self.send_response(404)
                self.end_headers()

        def log_message(self, *a):  # silence
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield srv.server_address[1]
    srv.shutdown()


ALIASES = [f"127.0.1.{i}" for i in range(1, 7)]
REFUSED = "127.0.1.99"


@pytest.fixture(scope="module")
def alias_stub():
    """One stub on 0.0.0.0, so every 127.0.1.x alias reaches it (as in
    perfbench/fleet.py). Each answer takes ~200 ms; the stub counts the
    requests in flight and drops every connection made to REFUSED."""

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802
            with stats["lock"]:
                stats["now"] += 1
                stats["peak"] = max(stats["peak"], stats["now"])
            time.sleep(0.2)
            with stats["lock"]:
                stats["now"] -= 1
            body = json.dumps({"host": float(ALIASES.index(self.connection.getsockname()[0]))}).encode()
            self.send_response(200)
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    class Server(http.server.ThreadingHTTPServer):
        def verify_request(self, request, client_address):
            return client_address[0].startswith("127.") and request.getsockname()[0] != REFUSED

    stats = {"lock": threading.Lock(), "now": 0, "peak": 0}
    srv = Server(("0.0.0.0", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield srv.server_address[1], stats
    srv.shutdown()
    srv.server_close()


def test_fetch_snapshot_ok(stub_server):
    from syscol_spark.sources.metrics_http import fetch_snapshot

    metrics, err = fetch_snapshot("127.0.0.1", stub_server)
    assert err is None
    assert metrics == {"slave/cpus_total": 4.0, "slave/mem_total": 2048.0}


def test_fetch_snapshot_error_tolerance():
    from syscol_spark.sources.metrics_http import fetch_snapshot

    # dead port: reference logs and emits empty envelope (metrics_reporter.go:89-94)
    metrics, err = fetch_snapshot("127.0.0.1", 1, timeout=0.5)
    assert metrics == {}
    assert err is not None


def test_batch_read(spark, stub_server):
    from syscol_spark.sources.metrics_http import MetricsSnapshotDataSource

    spark.dataSource.register(MetricsSnapshotDataSource)
    df = (
        spark.read.format("metrics_snapshot")
        .option("hosts", "127.0.0.1")
        .option("port", str(stub_server))
        .option("namespace", "test")
        .load()
    )
    [row] = df.collect()
    assert row["Hostname"] == "127.0.0.1"
    assert row["Metrics"]["slave/cpus_total"] == 4.0
    assert row["error"] is None
    assert row["Timestamp"] > 1_500_000_000 * 10**9  # ns scale


def test_batch_read_dead_host_emits_empty(spark):
    from syscol_spark.sources.metrics_http import MetricsSnapshotDataSource

    spark.dataSource.register(MetricsSnapshotDataSource)
    df = (
        spark.read.format("metrics_snapshot")
        .option("hosts", "127.0.0.1")
        .option("port", "1")
        .load()
    )
    [row] = df.collect()
    assert row["Metrics"] == {}
    assert row["error"]


def test_partitions_are_round_robin_host_slices():
    from syscol_spark.sources.metrics_http import SOURCE_SCHEMA, MetricsSnapshotStreamReader

    hosts = [f"10.0.0.{i}" for i in range(10)]

    def layout(**opts):
        reader = MetricsSnapshotStreamReader(SOURCE_SCHEMA, {"hosts": ",".join(hosts), **opts})
        return [p.hosts for p in reader.partitions({"tick": 0}, {"tick": 1})]

    parts = layout(partitions="4")
    assert len(parts) == 4
    assert sorted(h for p in parts for h in p) == sorted(hosts)  # each host in exactly one
    assert parts[0] == ["10.0.0.0", "10.0.0.4", "10.0.0.8"]
    assert len(layout(partitions="32")) == 10
    assert layout() == [hosts]


def test_slice_scrapes_concurrently_and_isolates_errors(spark, alias_stub):
    """One partition over four live hosts and one refused host: the live
    scrapes overlap, and the refused host costs only its own row."""
    from syscol_spark.sources.metrics_http import MetricsSnapshotDataSource

    port, stats = alias_stub
    stats["peak"] = 0
    spark.dataSource.register(MetricsSnapshotDataSource)
    rows = (
        spark.read.format("metrics_snapshot")
        .option("hosts", ",".join(ALIASES[:4] + [REFUSED]))
        .option("port", str(port))
        .option("partitions", "1")
        .load()
        .collect()
    )
    by_host = {r["Hostname"]: r for r in rows}
    assert len(rows) == 5 and set(by_host) == set(ALIASES[:4]) | {REFUSED}
    assert by_host[REFUSED]["Metrics"] == {} and by_host[REFUSED]["error"]
    for i, h in enumerate(ALIASES[:4]):
        assert by_host[h]["error"] is None
        assert by_host[h]["Metrics"] == {"host": float(i)}
    assert stats["peak"] >= 2, "the slice's scrapes ran one at a time"


def test_streaming_pipeline_end_to_end(spark, stub_server, tmp_path):
    """Full M3 pipeline: stream source → enrich → serialize JSON → sink
    (parquet fallback — no Kafka broker in container), via CollectorManager."""
    from syscol_spark.config import CollectorConfig
    from syscol_spark.streaming.control import CollectorManager

    props = tmp_path / "producer.properties"
    props.write_text("bootstrap.servers=localhost:9092\n")
    mgr = CollectorManager(
        spark,
        CollectorConfig(
            producer_properties=str(props),
            topic="syscol-metrics",
            hosts=["127.0.0.1"],
            port=stub_server,
            reporting_interval_secs=0.5,
        ),
    )
    q = mgr.start(checkpoint_dir=str(tmp_path / "ckpt"))
    try:
        deadline = time.time() + 30
        out_dir = str(tmp_path / "ckpt_out")
        rows = []
        while time.time() < deadline:
            try:
                rows = spark.read.parquet(out_dir).collect()
                if rows:
                    break
            except Exception:  # noqa: BLE001 — sink dir not yet created
                pass
            time.sleep(0.5)
    finally:
        mgr.stop()
    assert rows, "no rows reached the sink"
    assert rows[0]["key"] is None  # reference null-key semantics (X2)
    env = json.loads(bytes(rows[0]["value"]).decode())
    assert env["Hostname"] == "127.0.0.1"
    assert env["Metrics"]["slave/mem_total"] == 2048.0
    assert mgr.is_running() is False


def test_checkpoint_recovery(spark, stub_server, tmp_path):
    """Stop the pipeline mid-stream and restart from the same checkpoint:
    the query resumes (at-least-once upgrade over the reference's
    at-most-once) and keeps producing, with progress reports flowing (K4)."""
    from syscol_spark.config import CollectorConfig
    from syscol_spark.streaming.control import CollectorManager

    props = tmp_path / "p.properties"
    props.write_text("bootstrap.servers=localhost:9092\n")
    cfg = CollectorConfig(
        producer_properties=str(props),
        topic="t-recover",
        hosts=["127.0.0.1"],
        port=stub_server,
        reporting_interval_secs=0.5,
    )
    ckpt = str(tmp_path / "ckpt")
    out_dir = ckpt + "_out"

    def rows_now():
        try:
            return len(spark.read.parquet(out_dir).collect())
        except Exception:  # noqa: BLE001
            return 0

    mgr = CollectorManager(spark, cfg)
    mgr.start(checkpoint_dir=ckpt)
    deadline = time.time() + 30
    while time.time() < deadline and rows_now() == 0:
        time.sleep(0.5)
    n_before = rows_now()
    assert mgr.progress_history(), "no progress reports (K4)"
    mgr.stop()

    mgr2 = CollectorManager(spark, cfg)
    mgr2.start(checkpoint_dir=ckpt)  # same checkpoint → resume
    deadline = time.time() + 30
    while time.time() < deadline and rows_now() <= n_before:
        time.sleep(0.5)
    n_after = rows_now()
    mgr2.stop()
    assert n_before > 0
    assert n_after > n_before, "restart from checkpoint did not continue producing"


def test_stream_offset_no_recovery_stall():
    """Regression: offsets must be epoch-based, not reader-construction-based.
    A reader constructed AFTER a restart must immediately report a
    latestOffset at/past the offset a previous long-running reader committed
    — otherwise the stream stalls for the previous run's entire uptime."""
    from syscol_spark.sources.metrics_http import SOURCE_SCHEMA, MetricsSnapshotStreamReader

    opts = {"hosts": "127.0.0.1", "interval": "0.2"}
    r1 = MetricsSnapshotStreamReader(SOURCE_SCHEMA, opts)
    time.sleep(0.5)  # r1 "runs" for a while before the checkpoint
    committed = r1.latestOffset()["tick"]
    r2 = MetricsSnapshotStreamReader(SOURCE_SCHEMA, opts)  # process restart
    assert r2.latestOffset()["tick"] >= committed  # no stall at construction
    time.sleep(0.45)  # within ~one interval the offset must move PAST it
    assert r2.latestOffset()["tick"] > committed


def test_stream_offset_monotonic_guard():
    from syscol_spark.sources.metrics_http import SOURCE_SCHEMA, MetricsSnapshotStreamReader

    r = MetricsSnapshotStreamReader(SOURCE_SCHEMA, {"interval": "0.1"})
    ticks = []
    for _ in range(5):
        ticks.append(r.latestOffset()["tick"])
        time.sleep(0.05)
    assert ticks == sorted(ticks), "latestOffset went backwards"


def test_control_plane_gates(spark):
    from syscol_spark.config import CollectorConfig
    from syscol_spark.streaming.control import CollectorManager

    mgr = CollectorManager(spark, CollectorConfig())
    with pytest.raises(RuntimeError, match="cannot start"):
        mgr.start()
    # C5: update mutates config; takes effect on next start
    mgr.update(topic="t2")
    assert mgr.config.topic == "t2"
    assert mgr.status()["active"] is False


def test_pipeline_polls_every_host_once_per_batch(spark, alias_stub, tmp_path):
    """Six hosts through CollectorManager into the parquet fallback sink:
    every committed batch holds exactly one envelope per host."""
    from syscol_spark.config import CollectorConfig
    from syscol_spark.streaming.control import CollectorManager

    port, _ = alias_stub
    props = tmp_path / "p.properties"
    props.write_text("bootstrap.servers=localhost:9092\n")
    mgr = CollectorManager(
        spark,
        CollectorConfig(
            producer_properties=str(props),
            topic="t-fleet",
            hosts=ALIASES,
            port=port,
            reporting_interval_secs=0.5,
        ),
    )
    log_dir = tmp_path / "ckpt_out" / "_spark_metadata"

    def batch_logs():
        return sorted(p for p in log_dir.glob("*") if p.name.isdigit()) if log_dir.exists() else []

    mgr.start(checkpoint_dir=str(tmp_path / "ckpt"))
    try:
        deadline = time.time() + 60
        while time.time() < deadline and len(batch_logs()) < 3:
            time.sleep(0.2)
    finally:
        mgr.stop()
    logs = batch_logs()
    assert len(logs) >= 3, "fewer than three batches committed"
    for log in logs:
        files = [json.loads(line)["path"] for line in log.read_text().splitlines()[1:]]
        values = spark.read.parquet(*files).collect() if files else []
        hosts = sorted(json.loads(bytes(r["value"]))["Hostname"] for r in values)
        assert hosts == sorted(ALIASES), f"batch {log.name}: {hosts}"
