"""The ingest workload and the Avro replay that its traced run adds.

``ingest_stream``: the live collector. A fleet process (fleet.py) serves H
loopback hosts; ``CollectorManager`` polls them with transform=none into the
pipeline's own parquet sink. Due scrapes arrive on an open loop: H every
second, whatever the collector's pace. The sink is reconciled against the
fleet's log of served responses.

Replay (traced run only): seeded raw scrapes in the source's shape go
through the Avro wire path the stream bypasses, encode
(``enrich_envelope`` -> ``to_confluent_avro``) and decode
(``parse_serialized_stream(transform="avro")`` -> ``long_view``). A decode
of the encoded rows must give back the raw rows; prefix passes time each
layer of the path.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import time

import numpy as np

from perfbench import fleet
from perfbench.common import RUN, fresh_dir, log, median, pct, start_session

HOSTS = 32
INTERVAL_S = 1.0
REPLAY_ROWS = 4_000
REPLAY_FILES = 4
SCHEMA_ID = 1


# --- ingest_stream ------------------------------------------------------------


class FleetProcess:
    def __init__(self, hosts: int, seed: int, log_path: str):
        self.log_path = log_path
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "fleet.py"),
             "--hosts", str(hosts), "--seed", str(seed), "--log", log_path],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        self.port = int(self.proc.stdout.readline())

    def close(self) -> list[dict]:
        """Stop serving and return the log of every response served."""
        if self.proc.poll() is None:
            self.proc.stdin.close()
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        try:
            with open(self.log_path) as fh:
                return json.load(fh)
        except (OSError, ValueError):
            return []


def _collector(spark, fleet_port: int, hosts: int):
    from syscol_spark.config import CollectorConfig
    from syscol_spark.streaming.control import CollectorManager

    props = os.path.join(RUN, "producer.properties")
    with open(props, "w") as fh:
        fh.write("bootstrap.servers=none:9092\n")
    cfg = CollectorConfig(
        producer_properties=props,
        topic="perfbench",
        reporting_interval_secs=INTERVAL_S,
        namespace="perfbench",
        hosts=[fleet.host_addr(i) for i in range(hosts)],
        port=fleet_port,
    )
    return CollectorManager(spark, cfg)


def _commit_times(ckpt: str) -> dict[int, float]:
    """Batch id -> commit instant (mtime of the checkpoint's commit file)."""
    out = {}
    for path in glob.glob(os.path.join(ckpt, "commits", "[0-9]*")):
        out[int(os.path.basename(path))] = os.stat(path).st_mtime_ns / 1e9
    return out


def _wait_first_commit(ckpt: str, timeout: float = 120.0) -> None:
    deadline = time.time() + timeout
    while not _commit_times(ckpt):
        if time.time() > deadline:
            raise TimeoutError("collector committed no batch")
        time.sleep(0.02)


def read_sink(sink: str, commits: dict[int, float]) -> dict[int, list[dict]]:
    """Batch id -> envelopes the file sink committed in it. Only files its
    ``_spark_metadata`` log lists are read (each once: a compacted log entry
    repeats earlier batches' files), so a batch cut by stop() is not read.
    Batches run one after another and the source stamps each envelope while
    its batch runs, so an envelope belongs to the first batch committed
    after its stamp; one stamped after the last commit (logged by the sink
    before stop() cut the commit) is not read."""
    import bisect

    import pyarrow.parquet as pq

    files = set()
    for path in glob.glob(os.path.join(sink, "_spark_metadata", "[0-9]*")):
        with open(path) as fh:
            files.update(json.loads(line)["path"].removeprefix("file://") for line in fh.read().splitlines()[1:])
    order = sorted(commits, key=commits.get)
    times = [commits[b] for b in order]
    batches: dict[int, list[dict]] = {b: [] for b in order}
    for f in files:
        if not os.path.exists(f):
            continue  # a lost file: its envelopes never arrive
        for v in pq.read_table(f, columns=["value"]).column("value").to_pylist():
            env = json.loads(v)
            i = bisect.bisect_left(times, env["Timestamp"] / 1e9)
            if i < len(order):  # else stamped after the last commit: its batch never committed
                batches[order[i]].append(env)
    return batches


def reconcile(batches: dict[int, list[dict]], served: list[dict], last_commit: float) -> tuple[int, int, dict]:
    """(attempted, failed, per-host scrape errors). Every response the fleet
    answered 200 before the last commit must arrive exactly once with the
    served content; injected 503s arrive as error envelopes and are not
    failures. Responses served after the last commit were still in flight."""
    ok = {(s["host"], s["seq"]): s for s in served if s["status"] == 200}
    due = {k for k, s in ok.items() if s["arrive_us"] / 1e6 < last_commit}
    seen: dict[tuple, int] = {}
    failed = 0
    errors: dict[str, int] = {}
    for rows in batches.values():
        for env in rows:
            m = env.get("Metrics") or {}
            if "bench/seq" not in m:
                errors[env["Hostname"]] = errors.get(env["Hostname"], 0) + 1
                continue
            key = (env["Hostname"], int(m["bench/seq"]))
            seen[key] = seen.get(key, 0) + 1
            if key not in ok or seen[key] > 1 or fleet.digest(m) != ok[key]["digest"]:
                failed += 1
    failed += sum(1 for k in due if k not in seen)
    injected = {}
    for s in served:
        if s["status"] != 200 and s["arrive_us"] / 1e6 < last_commit:
            injected[s["host"]] = injected.get(s["host"], 0) + 1
    # error envelopes beyond the injected 503s are 200s that failed; fewer
    # than the injected 503s means scrapes that never arrived
    failed += sum(abs(errors.get(h, 0) - injected.get(h, 0)) for h in set(errors) | set(injected))
    return len(due) + sum(injected.values()), failed, errors


def run_stream(seed: int, seconds: float, trace: bool, hosts: int = HOSTS, drop_sink_file: bool = False,
               replay_rows: int = REPLAY_ROWS, corrupt_frame: bool = False) -> dict:
    from syscol_spark.session import get_session

    run_dir = fresh_dir(os.path.join(RUN, "stream"))
    fleet_proc = FleetProcess(hosts, seed, os.path.join(run_dir, "served.json"))
    mgr = None
    try:
        spark, session_s = start_session(get_session)
        mgr = _collector(spark, fleet_proc.port, hosts)
        ckpt = os.path.join(run_dir, "ckpt")
        t0 = time.perf_counter()
        started_at = time.time()
        mgr.start(checkpoint_dir=ckpt)
        _wait_first_commit(ckpt)
        start_s = time.perf_counter() - t0
        window_start = max(_commit_times(ckpt).values())
        time.sleep(seconds)
        query = mgr._query  # noqa: SLF001
        progress = list(query.recentProgress)
        t0 = time.perf_counter()
        mgr.stop()
        stop_s = time.perf_counter() - t0
        mgr = None
    finally:
        if mgr is not None:
            mgr.stop()
        served = fleet_proc.close()

    commits = _commit_times(ckpt)
    if drop_sink_file:  # self-test: lose one committed file of the last batch
        os.remove(sorted(glob.glob(os.path.join(ckpt + "_out", "part-*")))[-1])
    batches = read_sink(ckpt + "_out", commits)
    last_commit = max(commits.values())
    served = [s for s in served if s["arrive_us"] / 1e6 >= started_at]
    attempted, failed, errors = reconcile(batches, served, last_commit)

    # measured window: batches committed after the first post-set-up commit
    window = sorted(b for b, t in commits.items() if t > window_start and b in batches)
    latencies, delivered = [], 0
    for b in window:
        for env in batches[b]:
            delivered += 1
            m = env.get("Metrics") or {}
            if "bench/serve_us" in m:
                latencies.append(commits[b] - m["bench/serve_us"] / 1e6)
    span = commits[window[-1]] - window_start if window else float("nan")
    throughput = delivered / span
    metrics = {
        "setup_s": (session_s + start_s, "s"),
        "latency_p50_s": (median(latencies), "s"),
        "latency_p90_s": (pct(latencies, 90), "s"),
        "throughput_per_s": (throughput, "1/s"),
    }
    log(f"ingest_stream: hosts={hosts} batches={len(window)} window={span:.2f}s "
        f"tick_coverage={throughput * INTERVAL_S / hosts:.3f} delivered={delivered} "
        f"attempted={attempted} failed={failed} session_s={session_s:.2f} start_s={start_s:.2f} stop_s={stop_s:.2f}")
    layers = {}
    if trace:
        layers = _stream_layers(progress, commits, served, window, hosts, throughput, errors, start_s, stop_s, session_s)
        replay = run_replay(spark, seed, replay_rows, corrupt_frame)
        layers.update(replay["layers"])
        attempted += replay["attempted"]
        failed += replay["failed"]
    return {"metrics": metrics, "layers": layers, "attempted": attempted, "failed": failed}


def _stream_layers(progress, commits, served, window, hosts, throughput, errors, start_s, stop_s, session_s) -> dict:
    """Per-layer numbers read from the query's public progress, the fleet's
    log and the checkpoint, never from inside the program."""
    prog = [p for p in progress if p.get("batchId") in set(window)]
    dur = lambda key: median([p["durationMs"].get(key, 0) for p in prog]) if prog else 0.0  # noqa: E731
    spreads, per_batch, serve = [], [], []
    order = sorted(commits.items(), key=lambda kv: kv[1])
    for (_, prev_t), (b, t) in zip(order, order[1:]):
        if b not in window:
            continue
        arrivals = [s["arrive_us"] / 1e6 for s in served if prev_t < s["arrive_us"] / 1e6 <= t]
        per_batch.append(len(arrivals))
        if arrivals:
            spreads.append((max(arrivals) - min(arrivals)) * 1e3)
    serve = [(s["serve_us"] - s["arrive_us"]) / 1e3 for s in served]
    return {
        "session.get_session_s": (session_s, "s"),
        "sources.metrics_http.scrapes_per_batch": (median(per_batch) if per_batch else 0.0, "count"),
        "sources.metrics_http.scrape_spread_ms": (median(spreads) if spreads else 0.0, "ms"),
        "sources.metrics_http.serve_ms": (median(serve) if serve else 0.0, "ms"),
        "sources.metrics_http.scrape_errors": (sum(errors.values()), "count"),
        "streaming.pipeline.batches": (len(window), "count"),
        "streaming.pipeline.tick_coverage": (throughput * INTERVAL_S / hosts, "ratio"),
        "streaming.pipeline.trigger_ms": (dur("triggerExecution"), "ms"),
        "streaming.pipeline.add_batch_ms": (dur("addBatch"), "ms"),
        "streaming.pipeline.latest_offset_ms": (dur("latestOffset"), "ms"),
        "streaming.pipeline.wal_commit_ms": (dur("walCommit"), "ms"),
        "streaming.pipeline.rows_per_batch": (median([p["numInputRows"] for p in prog]) if prog else 0.0, "count"),
        "streaming.control.start_s": (start_s, "s"),
        "streaming.control.stop_s": (stop_s, "s"),
    }


# --- replay (traced runs) ------------------------------------------------------


def replay_input(seed: int, rows: int, *, out_dir: str) -> str:
    """Write ``rows`` seeded raw scrapes (the metrics source's schema) as
    REPLAY_FILES files, so the scan splits across cores; about 1% are failed
    scrapes with an empty map."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = fresh_dir(os.path.join(out_dir, "raw"))
    rng = np.random.default_rng(seed)
    n_hosts = 64
    keys = [np.array(fleet.host_keys(seed, i), dtype=object) for i in range(n_hosts)]
    host = rng.integers(0, n_hosts, rows)
    empty = rng.random(rows) < 0.01
    sizes = np.where(empty, 0, [len(keys[h]) for h in host])
    offsets = np.concatenate([[0], np.cumsum(sizes)]).astype(np.int32)
    flat_keys = np.concatenate([keys[h] for h, e in zip(host, empty) if not e])
    values = np.round(rng.uniform(0, 1000, int(offsets[-1])), 3)
    names = [fleet.host_addr(h) for h in host]
    table = pa.table({
        "SlaveID": pa.array([f"slave-{n}:5051" for n in names]),
        "Hostname": pa.array(names),
        "Port": pa.array(np.full(rows, 5051, dtype=np.int32)),
        "Namespace": pa.array(["perfbench"] * rows),
        "Timestamp": pa.array(1_760_000_000_000_000_000 + np.arange(rows, dtype=np.int64) * 7_919_000),
        "Metrics": pa.MapArray.from_arrays(pa.array(offsets), pa.array(flat_keys, pa.string()), pa.array(values)),
        "error": pa.array([("HTTPError: HTTP Error 503" if e else None) for e in empty], pa.string()),
    })
    step = -(-rows // REPLAY_FILES)
    for k in range(REPLAY_FILES):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k}.parquet"))
    return path


def _envelope():
    import pyspark.sql.functions as F
    from syscol_spark.functions.envelope import enrich_envelope

    return enrich_envelope(
        F.col("Metrics"), slave_id=F.col("SlaveID"), hostname=F.col("Hostname"),
        port=F.col("Port"), namespace=F.col("Namespace"), timestamp_ns=F.col("Timestamp"),
    )


def encode_frame(spark, raw_path: str):
    from syscol_spark.functions.confluent import to_confluent_avro

    raw = spark.read.parquet(raw_path)
    return raw.select(to_confluent_avro(_envelope(), SCHEMA_ID).alias("value"))


def decode_frame(spark, encoded_path: str):
    from syscol_spark.streaming.analytics import long_view, parse_serialized_stream

    return long_view(parse_serialized_stream(spark.read.parquet(encoded_path), transform="avro"))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def round_trip_failures(spark, raw_path: str, encoded_path: str) -> int:
    """Raw rows that a decode of the encoded rows does not give back."""
    import pyspark.sql.functions as F
    from syscol_spark.streaming.analytics import parse_serialized_stream

    def fingerprint(df, env):
        return df.select(F.xxhash64(
            env["SlaveID"], env["Hostname"], env["Port"], env["Namespace"], env["Timestamp"],
            F.array_sort(F.map_entries(env["Metrics"])),
        ).alias("h"))

    raw = spark.read.parquet(raw_path)
    want = fingerprint(raw, _envelope())
    dec = parse_serialized_stream(spark.read.parquet(encoded_path), transform="avro")
    got = fingerprint(dec, F.col("envelope"))
    return want.exceptAll(got).count() + max(0, got.count() - raw.count())


def corrupt_one_frame(encoded_path: str) -> None:
    """Flip one byte inside one encoded frame (self-test of the check)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    part = sorted(glob.glob(os.path.join(encoded_path, "part-*.parquet")))[0]
    table = pq.read_table(part)
    values = table.column("value").to_pylist()
    frame = bytearray(values[0])
    frame[len(frame) // 2] ^= 0x01
    values[0] = bytes(frame)
    pq.write_table(table.set_column(0, "value", pa.array(values, pa.binary())), part)
    crc = os.path.join(encoded_path, f".{os.path.basename(part)}.crc")
    if os.path.exists(crc):
        os.remove(crc)  # Spark would reject the rewritten file on its stale checksum


def run_replay(spark, seed: int, rows: int, corrupt: bool = False) -> dict:
    """The Avro wire path over seeded raw scrapes, run after the stream in a
    traced run: encode them once, check that a decode gives them back, then
    time the prefix passes."""
    raw_path = replay_input(seed, rows, out_dir=fresh_dir(os.path.join(RUN, "replay")))
    encoded = os.path.join(RUN, "replay", "encoded")
    encode_frame(spark, raw_path).write.mode("overwrite").parquet(encoded)
    if corrupt:
        corrupt_one_frame(encoded)
    failed = round_trip_failures(spark, raw_path, encoded)
    layers = _replay_layers(spark, raw_path, encoded, rows)
    log(f"ingest replay: rows={rows} failed={failed} encode_envelopes_per_s="
        f"{layers['functions.confluent.encode_envelopes_per_s'][0]:.0f} decode_envelopes_per_s="
        f"{layers['functions.confluent.decode_envelopes_per_s'][0]:.0f}")
    return {"layers": layers, "attempted": rows, "failed": failed}


def _last_execution_id(spark) -> int:
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()  # noqa: SLF001
    return max((executions.apply(k).executionId() for k in range(executions.size())), default=-1)


def _python_rows(spark, first_execution: int) -> int:
    """Sum of ``number of output rows`` over the Python UDF plan nodes
    (ArrowEvalPython, BatchEvalPython) of every SQL execution numbered
    ``first_execution`` or later, from the SQL status store that backs the
    Spark UI. The listener bus is drained first, so every finished task's
    metrics are in."""
    jsc = spark.sparkContext._jsc.sc()  # noqa: SLF001
    jsc.listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()  # noqa: SLF001
    executions = store.executionsList()
    total = 0
    for k in range(executions.size()):
        eid = executions.apply(k).executionId()
        if eid < first_execution:
            continue
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        for j in range(nodes.size()):
            node = nodes.apply(j)
            if "EvalPython" not in node.name():
                continue
            metrics = node.metrics()
            for i in range(metrics.size()):
                m = metrics.apply(i)
                v = values.get(m.accumulatorId())
                if m.name() == "number of output rows" and v.isDefined():
                    total += int(v.get().replace(",", ""))
    return total


def _replay_layers(spark, raw_path, encoded, rows) -> dict:
    """Prefix passes: each times one more layer of the wire path than the one
    before it, forced with a noop write."""
    import pyspark.sql.functions as F
    from syscol_spark.functions.confluent import from_confluent_avro
    from syscol_spark.functions.envelope import envelope_to_json
    from syscol_spark.streaming.analytics import parse_serialized_stream

    def timed(make) -> tuple[float, int]:
        """Seconds of one noop write of ``make()``, and the rows its Python
        UDF nodes returned (read after the clock stops)."""
        first = _last_execution_id(spark) + 1
        t0 = time.perf_counter()
        _noop(make())
        return time.perf_counter() - t0, _python_rows(spark, first)

    raw = lambda: spark.read.parquet(raw_path)  # noqa: E731
    enc = lambda: spark.read.parquet(encoded)  # noqa: E731
    enrich_s, _ = timed(lambda: raw().select(_envelope().alias("e")))
    to_json_s, _ = timed(lambda: raw().select(envelope_to_json(_envelope()).alias("v")))
    avro_encode_s, encode_py_rows = timed(lambda: encode_frame(spark, raw_path))
    avro_decode_s, _ = timed(lambda: enc().select(from_confluent_avro(F.col("value")).alias("j")))
    parse_s, _ = timed(lambda: parse_serialized_stream(enc(), transform="avro"))
    long_view_s, decode_py_rows = timed(lambda: decode_frame(spark, encoded))
    long_rows = decode_frame(spark, encoded).count()
    return {
        "functions.envelope.enrich_s": (enrich_s, "s"),
        "functions.envelope.to_json_s": (to_json_s, "s"),
        "functions.confluent.avro_encode_s": (avro_encode_s, "s"),
        "functions.confluent.avro_decode_s": (avro_decode_s, "s"),
        "functions.confluent.python_rows": (encode_py_rows + decode_py_rows, "count"),
        "functions.confluent.encode_envelopes_per_s": (rows / avro_encode_s, "1/s"),
        "functions.confluent.decode_envelopes_per_s": (rows / long_view_s, "1/s"),
        "streaming.analytics.parse_s": (parse_s, "s"),
        "streaming.analytics.long_view_s": (long_view_s, "s"),
        "streaming.analytics.long_view_rows": (long_rows, "count"),
    }
