"""Streaming analytics tests: watermarked windows, streaming dedup, custom
stateful operator — driven by the polling source against a stub server,
collected through a memory sink."""

from __future__ import annotations

import http.server
import json
import threading
import time

import pyspark.sql.functions as F
import pytest


@pytest.fixture(scope="module")
def stub_server():
    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802
            body = json.dumps({"slave/cpus_total": 4.0, "slave/mem_used": 100.0}).encode()
            self.send_response(200)
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield srv.server_address[1]
    srv.shutdown()


def _enriched(spark, port):
    from syscol_spark.config import CollectorConfig
    from syscol_spark.streaming.pipeline import enriched_stream

    cfg = CollectorConfig(hosts=["127.0.0.1"], port=port, reporting_interval_secs=0.5)
    return enriched_stream(spark, cfg)


def _run_to_memory(df, name, timeout=40, min_rows=1, output_mode="update"):
    q = df.writeStream.format("memory").queryName(name).outputMode(output_mode).trigger(
        processingTime="1 second"
    ).start()
    try:
        deadline = time.time() + timeout
        spark = df.sparkSession
        while time.time() < deadline:
            rows = spark.sql(f"SELECT * FROM {name}").collect()
            if len(rows) >= min_rows:
                return rows
            time.sleep(0.5)
        return spark.sql(f"SELECT * FROM {name}").collect()
    finally:
        q.stop()


def test_windowed_rates_streaming(spark, stub_server):
    from syscol_spark.streaming.analytics import windowed_metric_rates

    out = windowed_metric_rates(_enriched(spark, stub_server), window="1 minute")
    rows = _run_to_memory(out, "win_rates", min_rows=2)
    assert rows, "no windowed aggregates produced"
    metrics = {r["metric"] for r in rows}
    assert "slave/cpus_total" in metrics
    assert all(r["hostname"] == "127.0.0.1" for r in rows)
    assert all(r["n"] >= 1 for r in rows)


def test_stateful_host_counters(spark, stub_server):
    from syscol_spark.streaming.analytics import stateful_host_counters

    out = stateful_host_counters(_enriched(spark, stub_server))
    rows = _run_to_memory(out, "host_counters")
    assert rows, "no stateful output"
    last = rows[-1]
    assert last["hostname"] == "127.0.0.1"
    assert last["n_ticks"] >= 1
    assert last["ewma_metric_count"] > 0  # 2 metrics per tick → ewma → 2


def test_session_rollup_streaming(spark, stub_server):
    from syscol_spark.streaming.analytics import session_rollup

    out = session_rollup(_enriched(spark, stub_server), gap="30 seconds")
    # session-window streaming aggregations support append (watermark-closed
    # sessions only) and complete; complete shows in-flight sessions too
    rows = _run_to_memory(out, "sess_roll", output_mode="complete", timeout=45)
    assert rows, "no session rows produced"
    last = rows[-1]
    assert last["hostname"] == "127.0.0.1"
    assert last["session_end"] > last["session_start"]
    assert last["n_ticks"] >= 1 and last["n_metrics"] >= last["n_ticks"]


def test_interval_join_streams(spark, stub_server):
    from syscol_spark.streaming.analytics import interval_join_streams, with_event_time

    base = with_event_time(_enriched(spark, stub_server)).select(
        F.col("envelope.Hostname").alias("host"), "event_time"
    )
    # self-join: every tick matches itself (band includes 0s lag)
    joined = interval_join_streams(
        base.select(F.col("host"), "event_time"),
        base.select(F.col("host"), "event_time"),
        on="host",
        band_seconds=60,
    ).select(F.col("l.host").alias("host"), F.col("l.event_time").alias("lt"), F.col("r.event_time").alias("rt"))
    rows = _run_to_memory(joined, "ivj", output_mode="append", timeout=45)
    assert rows, "stream-stream interval join produced nothing"
    assert all(r["rt"] <= r["lt"] for r in rows)  # band is at-or-before


def test_dedup_stream_drops_replays(spark, stub_server):
    from syscol_spark.streaming.analytics import dedup_stream

    out = dedup_stream(_enriched(spark, stub_server)).select(
        F.col("envelope.SlaveID").alias("sid"), "event_time"
    )
    rows = _run_to_memory(out, "dedup_ev", output_mode="append")
    keys = [(r["sid"], r["event_time"]) for r in rows]
    assert len(keys) == len(set(keys))  # no duplicate (key, time) pairs emitted


def test_hash_sample_is_stateless_streaming_filter(spark, tmp_path):
    """hash_sample / weighted_mixture are pure codegen'd filters, so they
    apply to a readStream unchanged — and select EXACTLY the same rows the
    batch pipeline selects (reproducible curation across batch + stream)."""
    from syscol_spark.operators.sampling import hash_sample

    src = str(tmp_path / "in")
    batch = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    batch.write.parquet(src)

    expected = {r["doc_id"] for r in hash_sample(batch, "doc_id", 250_000).collect()}
    stream = spark.readStream.schema("doc_id bigint").parquet(src)
    sampled = hash_sample(stream, "doc_id", 250_000)
    assert sampled.isStreaming
    rows = _run_to_memory(
        sampled, "t_stream_sample", output_mode="append", min_rows=len(expected)
    )
    assert {r["doc_id"] for r in rows} == expected


def test_streaming_zscore_matches_batch_twin(spark, tmp_path):
    """The stateful z-score operator must flag EXACTLY the rows the batch
    q_ev_anomaly window expression flags, across micro-batch boundaries
    (files arrive one per trigger, in time order)."""
    import math

    from syscol_spark.streaming.analytics import streaming_zscore_anomalies

    # two quiet users with one violent spike each, plus noise users
    rows = []
    eid = 0
    for uid in range(4):
        for i in range(40):
            v = 10.0 + (i % 3) * 0.5 + (100.0 if (uid < 2 and i == 30) else 0.0)
            rows.append((eid, uid, 1_700_000_000_000_000 + i * 60_000_000 + uid, v))
            eid += 1

    # python reference implementing the exact batch-twin semantics
    expected = {}
    by_uid: dict[int, list] = {}
    for e, u, t, v in sorted(rows, key=lambda r: (r[2], r[0])):
        buf = by_uid.setdefault(u, [])
        n = len(buf)
        if n >= 8:
            s, sq = sum(buf), sum(x * x for x in buf)
            var = (sq - s * s / n) / (n - 1)
            if var > 0:
                z = (v - s / n) / math.sqrt(var)
                if abs(z) > 3.0:
                    expected[e] = z
        buf.append(v)
        if len(buf) > 20:
            del buf[0]
    assert expected, "fixture must contain anomalies"

    src = str(tmp_path / "ev")
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts_us long, value double")
    # three files in time order -> three micro-batches crossing state
    for k, (lo, hi) in enumerate([(0, 15), (15, 28), (28, 40)]):
        df.filter(
            ((F.col("event_id") % 40) >= lo) & ((F.col("event_id") % 40) < hi)
        ).coalesce(1).write.parquet(f"{src}/f{k}")

    stream = spark.readStream.schema("event_id long, user_id long, ts_us long, value double").option(
        "maxFilesPerTrigger", "1"
    ).parquet(f"{src}/f*")
    out = streaming_zscore_anomalies(stream)
    got_rows = _run_to_memory(out, "t_zscore", output_mode="append", min_rows=len(expected))
    got = {r["event_id"]: r["zscore"] for r in got_rows}
    assert set(got) == set(expected)
    for e, z in expected.items():
        assert abs(got[e] - z) < 1e-9


def test_streaming_zscore_state_survives_checkpoint_restart(spark, tmp_path):
    """Kill the query after the first file, restart from the checkpoint with
    a second file present: the rolling buffers must restore, so anomalies in
    file 2 that depend on file-1 history are still flagged (and nothing is
    re-emitted or lost)."""
    import time as _t

    from syscol_spark.streaming.analytics import streaming_zscore_anomalies

    rows = []
    for i in range(40):
        v = 10.0 + (i % 3) * 0.5 + (100.0 if i == 30 else 0.0)
        rows.append((i, 1, 1_700_000_000_000_000 + i * 60_000_000, v))
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts_us long, value double")
    src, ckpt = str(tmp_path / "ev"), str(tmp_path / "ckpt")
    # file 1: the quiet history; file 2: contains the spike at i=30
    df.filter("event_id < 25").coalesce(1).write.parquet(f"{src}/f0")

    schema = "event_id long, user_id long, ts_us long, value double"
    sink: list = []

    def start():
        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(f"{src}/f*")
        return (
            streaming_zscore_anomalies(stream)
            .writeStream.foreachBatch(lambda b, _id: sink.extend(b.collect()))
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="1 second")
            .start()
        )

    q = start()
    try:
        deadline = _t.time() + 30
        while _t.time() < deadline and not q.recentProgress:
            _t.sleep(0.5)
    finally:
        q.stop()

    df.filter("event_id >= 25").coalesce(1).write.parquet(f"{src}/f1")
    q = start()
    try:
        deadline = _t.time() + 40
        while _t.time() < deadline and not sink:
            _t.sleep(0.5)
    finally:
        q.stop()
    flagged = {r["event_id"] for r in sink}
    # the spike at 30 needs >= 8 prior values — all of them carried in
    # restored state from the pre-restart batch
    assert 30 in flagged
    assert len(flagged) == 1


def test_streaming_minhash_dedup_matches_batch_twin(spark, sf_dir, tmp_path):
    """Ingest-time MinHash dedup must discover EXACTLY the batch operator's
    candidate pairs (ids + est_jaccard) across micro-batch boundaries: the
    500 fixture docs are split by doc_id % 3 into three files/triggers, so
    most colliding pairs straddle batches and only cross-batch bucket state
    can pair them."""
    from syscol_spark.operators.dedup import minhash_lsh_candidates, minhash_signatures
    from syscol_spark.streaming.analytics import streaming_minhash_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    expected = {
        (r["id_a"], r["id_b"], r["est_jaccard"])
        for r in minhash_lsh_candidates(minhash_signatures(docs, "text", "doc_id")).collect()
    }
    assert expected, "fixture must contain near-dup candidates"

    timed = docs.withColumn("event_time", F.timestamp_micros(1_700_000_000_000_000 + F.col("doc_id") * 1_000_000))
    src = str(tmp_path / "docs")
    for k in range(3):
        timed.filter(F.col("doc_id") % 3 == k).coalesce(1).write.parquet(f"{src}/f{k}")

    stream = (
        spark.readStream.schema("doc_id long, text string, event_time timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/f*")
    )
    out = streaming_minhash_dedup(stream, watermark="1 hour")
    # run until the source is EXHAUSTED (all three files triggered), not just
    # until N rows exist — per-band duplicate emissions would otherwise let
    # the poll return mid-stream
    q = (
        out.writeStream.format("memory").queryName("mh_dedup").outputMode("append")
        .trigger(availableNow=True).start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM mh_dedup").collect()
    # a pair colliding in several bands emits once per band — dedup here,
    # as a downstream consumer would
    got = {(r["id_a"], r["id_b"], r["est_jaccard"]) for r in rows}
    assert got == expected


def test_streaming_minhash_dedup_watermark_evicts_members(spark, tmp_path):
    """Members behind the watermark leave bucket state: an identical doc
    arriving AFTER the horizon passed its twin must NOT pair with it, while
    two in-horizon twins in the same batch still pair (positive control)."""
    from syscol_spark.streaming.analytics import streaming_minhash_dedup

    text_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    text_n = "one two three four five six seven eight nine ten eleven"
    t0 = 1_700_000_000_000_000
    m30 = 30 * 60 * 1_000_000
    f0 = [(1, text_a, t0), (2, text_n, t0)]
    f1 = [(3, "noise words entirely different from both corpora here now", t0 + m30)]
    f2 = [(4, text_a, t0 + m30 + 1_000_000), (5, text_a, t0 + m30 + 2_000_000)]
    src = str(tmp_path / "docs")
    for k, rows in enumerate([f0, f1, f2]):
        spark.createDataFrame(rows, "doc_id long, text string, ts_us long").withColumn(
            "event_time", F.timestamp_micros(F.col("ts_us"))
        ).drop("ts_us").coalesce(1).write.parquet(f"{src}/f{k}")

    stream = (
        spark.readStream.schema("doc_id long, text string, event_time timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/f*")
    )
    out = streaming_minhash_dedup(stream, watermark="1 minute")
    rows = _run_to_memory(out, "mh_evict", output_mode="append", min_rows=1, timeout=60)
    got_pairs = {(r["id_a"], r["id_b"]) for r in rows}
    assert (4, 5) in got_pairs, "in-horizon identical docs must pair"
    assert not any(1 in p for p in got_pairs), f"doc 1 should have been evicted, got {got_pairs}"


def test_streaming_cdc_compact_matches_batch_twin(spark, sf_dir, tmp_path):
    """The streaming compaction's FINAL row per key (after all triggers)
    must equal the batch q_cdc_compact output exactly — versions split
    across three micro-batches, so only carried state can get the counts
    and latest-wins tie-breaks right."""
    from syscol_spark.plans.catalog import query_catalog

    expected = {
        (r["user_id"], r["event_type"]): (
            r["n_versions"], r["first_us"], r["last_us"], r["last_value"]
        )
        for r in query_catalog()["q_cdc_compact"](spark, sf_dir).collect()
    }
    assert expected

    from syscol_spark.sources.tables import load_table
    from syscol_spark.streaming.analytics import streaming_cdc_compact

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts_us", "value"
    )
    src = str(tmp_path / "ev")
    for k in range(3):
        ev.filter(F.col("event_id") % 3 == k).coalesce(1).write.parquet(f"{src}/f{k}")
    stream = (
        spark.readStream.schema(
            "user_id long, event_type string, event_id long, ts_us long, value double"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/f*")
    )
    out = streaming_cdc_compact(stream)
    q = (
        out.writeStream.format("memory").queryName("cdc_compact").outputMode("update")
        .trigger(availableNow=True).start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM cdc_compact").collect()
    # update mode appends one row per touched key per batch; the final
    # compacted row is the one with the highest version count (monotone)
    got = {}
    for r in rows:
        k = (r["user_id"], r["event_type"])
        if k not in got or r["n_versions"] > got[k][0]:
            got[k] = (r["n_versions"], r["first_us"], r["last_us"], r["last_value"])
    assert got == expected


def test_streaming_topk_matches_batch_twin(spark, sf_dir, tmp_path):
    """transformWithStateInPandas running top-k: after the source is
    exhausted, the LAST emission per event_type must equal the batch
    q_ev_topk_per_group rows. Events are split by event_id % 3 into three
    files/triggers, so the final top-k generally mixes rows from different
    micro-batches and only cross-batch ValueState can assemble it."""
    from syscol_spark.plans.catalog import query_catalog
    from syscol_spark.streaming.analytics import streaming_topk_per_group

    expected = {
        (r["event_type"], r["event_id"], r["value"], r["rk"])
        for r in query_catalog()["q_ev_topk_per_group"](spark, sf_dir).collect()
    }
    assert expected

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_type", "event_id", "value")
    src = str(tmp_path / "ev")
    for k in range(3):
        ev.filter(F.col("event_id") % 3 == k).coalesce(1).write.parquet(f"{src}/f{k}")

    stream = (
        spark.readStream.schema("event_type string, event_id long, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/f*")
    )
    out = streaming_topk_per_group(stream, k=3)
    sink: list[tuple[int, tuple]] = []
    q = (
        out.writeStream.foreachBatch(
            lambda b, bid: sink.extend((bid, tuple(r)) for r in b.collect())
        )
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()

    # keep each group's rows from the last batch that re-emitted it
    last_batch: dict[str, int] = {}
    for bid, row in sink:
        last_batch[row[0]] = max(last_batch.get(row[0], -1), bid)
    got = {row for bid, row in sink if bid == last_batch[row[0]]}
    assert got == expected


def test_streaming_semantic_dedup_matches_batch(spark, sf_dir, tmp_path):
    """Ingest-time SemDeDup must emit EXACTLY the batch operator's
    (vec_id, cluster, keep) decisions when ids arrive monotonically (the
    ingest contract): the fixture is split into three id-range files /
    triggers, so drops caused by a batch-1 member against a batch-3
    arrival only happen if cross-batch cluster state works."""
    from syscol_spark.operators.similarity import kmeans_centroids, semantic_dedup
    from syscol_spark.streaming.analytics import streaming_semantic_dedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    cents = kmeans_centroids(emb, k=16, max_iter=3, train_stride=1)
    expected = {
        (r["vec_id"], r["cluster"], r["keep"])
        for r in semantic_dedup(emb, n_clusters=16, min_cosine=0.2, max_iter=3).collect()
    }
    assert any(not k for _, _, k in expected), "fixture must produce drops"

    timed = emb.withColumn(
        "event_time", F.timestamp_micros(1_700_000_000_000_000 + F.col("vec_id") * 1_000_000)
    )
    src = str(tmp_path / "vecs")
    # id-RANGE shards written in order: lower ids must never trail higher
    # ones across triggers (the monotone-ingest contract the operator
    # documents); FileStreamSource triggers files in mod-time order
    for k, (lo, hi) in enumerate([(0, 170), (170, 340), (340, 1 << 40)]):
        timed.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)).coalesce(1).write.parquet(
            f"{src}/f{k}"
        )
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>, event_time timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/f*")
    )
    out = streaming_semantic_dedup(stream, cents, min_cosine=0.2, watermark="1 hour")
    q = (
        out.writeStream.format("memory").queryName("sem_dedup").outputMode("append")
        .trigger(availableNow=True).start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = {
        (r["vec_id"], r["cluster"], r["keep"])
        for r in spark.sql("SELECT * FROM sem_dedup").collect()
    }
    assert got == expected


def test_round6_mirror_matches_spark_round(spark):
    """round6_like_spark and its array form must agree with F.round(col, 6)
    on arbitrary doubles, down to the sign of a zero: the streaming dedup's
    keep decision thresholds on the scalar form and the driver-local k-NN
    graph emits the array form's cosines, so any divergence breaks batch
    parity. One Spark job over a deterministic mixed sample: uniform
    cosines, boundary-ish values, negatives, ints, tiny negatives that
    round to zero."""
    import math
    import random

    import numpy as np

    from syscol_spark.functions.rounding import round6_like_spark, round6_like_spark_array

    rng = random.Random(99)
    vals = [rng.uniform(-1, 1) for _ in range(3000)]
    vals += [rng.uniform(-1, 1) * 10 ** rng.randint(-9, 3) for _ in range(3000)]
    vals += [x / 2_000_000 for x in range(-20, 21)]  # exact 5e-7 half-points
    vals += [0.0, -0.0, 1.0, -1.0, 0.1234565, 0.1234575, -1e-9, -4.9e-7, -5e-7]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = [r["r"] for r in df.select(F.round("x", 6).alias("r")).collect()]
    arr = round6_like_spark_array(np.array(vals)).tolist()
    for v, g, a in zip(vals, got, arr):
        s = round6_like_spark(v)
        assert s == g and math.copysign(1.0, s) == math.copysign(1.0, g), (v, s, g)
        assert a == g and math.copysign(1.0, a) == math.copysign(1.0, g), (v, a, g)


def test_streaming_semantic_dedup_watermark_evicts_members(spark, tmp_path):
    """Cluster members behind the watermark leave state: a near-identical
    vector arriving AFTER the horizon passed its twin must be KEPT, while
    its same-batch twin is still dropped (positive control)."""
    from syscol_spark.streaming.analytics import streaming_semantic_dedup

    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    t0 = 1_700_000_000_000_000
    m30 = 30 * 60 * 1_000_000
    v = [1.0, 0.0, 0.0, 0.0]
    near = [0.999, 0.01, 0.0, 0.0]
    f0 = [(1, v, t0)]
    f1 = [(2, [0.0, 1.0, 0.0, 0.0], t0 + m30)]  # other cluster; advances watermark
    f2 = [(4, near, t0 + m30 + 1_000_000), (5, near, t0 + m30 + 2_000_000)]
    src = str(tmp_path / "vecs")
    for k, rows in enumerate([f0, f1, f2]):
        spark.createDataFrame(rows, "vec_id long, embedding array<double>, ts_us long").withColumn(
            "event_time", F.timestamp_micros(F.col("ts_us"))
        ).drop("ts_us").coalesce(1).write.parquet(f"{src}/f{k}")

    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>, event_time timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/f*")
    )
    out = streaming_semantic_dedup(stream, cents, min_cosine=0.9, watermark="1 minute")
    rows = _run_to_memory(out, "sem_evict", output_mode="append", min_rows=4, timeout=60)
    keep = {r["vec_id"]: r["keep"] for r in rows}
    assert keep[1] is True
    assert keep[4] is True, "vec 1 was behind the watermark — must not drop vec 4"
    assert keep[5] is False, "same-batch lower-id twin must still drop vec 5"


def test_streaming_heavy_hitters_mg_guarantees(spark, tmp_path):
    """Cross-batch Misra-Gries guarantees, checked against exact truth on a
    skewed stream split over three triggers: (1) every item whose true
    SHARD frequency exceeds shard_n/capacity appears in the final summary;
    (2) every emitted counter brackets the item's true count in
    [lower, upper]; (3) per-shard state never exceeds `capacity` items."""
    import collections

    from syscol_spark.streaming.analytics import streaming_heavy_hitters

    # Zipf-ish skew over 200 distinct items, 4000 events, deterministic
    rows = []
    seq = 0
    for rank in range(1, 201):
        freq = max(1, 400 // rank)
        for _ in range(freq):
            rows.append((seq, f"item{rank:03d}"))
            seq += 1
    truth = collections.Counter(it for _, it in rows)
    df = spark.createDataFrame(rows, "seq long, item string")
    src = str(tmp_path / "hh")
    for k in range(3):
        df.filter(F.col("seq") % 3 == k).coalesce(1).write.parquet(f"{src}/f{k}")

    stream = (
        spark.readStream.schema("seq long, item string")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/f*")
    )
    capacity, n_shards = 16, 4
    out = streaming_heavy_hitters(stream, "item", capacity=capacity, n_shards=n_shards)
    q = (
        out.writeStream.format("memory").queryName("hh").outputMode("update")
        .trigger(availableNow=True).start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    all_rows = spark.sql("SELECT * FROM hh").collect()
    assert all_rows
    # update mode re-emits per trigger: keep the final (max shard_n) snapshot
    final_n = {}
    for r in all_rows:
        final_n[r["shard"]] = max(final_n.get(r["shard"], 0), r["shard_n"])
    final = {
        (r["shard"], r["item"]): (r["lower"], r["upper"])
        for r in all_rows
        if r["shard_n"] == final_n[r["shard"]]
    }

    # reconstruct each item's shard exactly as the operator does
    shard_of = {
        r["item"]: r["shard"]
        for r in df.select(
            F.col("item"),
            F.pmod(F.xxhash64(F.col("item")), F.lit(n_shards)).cast("int").alias("shard"),
        ).collect()
    }
    shard_n = collections.Counter(shard_of[it] for _, it in rows)
    for (shard, item), (lo, hi) in final.items():
        assert lo <= truth[item] <= hi, (item, lo, truth[item], hi)
    per_shard = collections.Counter(s for (s, _i) in final)
    assert all(v <= 16 for v in per_shard.values()), per_shard
    for item, cnt in truth.items():
        s = shard_of[item]
        if cnt * 16 > shard_n[s]:
            assert (s, item) in final, (item, cnt, shard_n[s])


def test_streaming_burn_rate_matches_batch(spark, sf_dir, tmp_path):
    """The streamed multiwindow burn-rate snapshot must converge to exactly
    the batch q_ev_burn_rate rows (same columns, same 6dp rounding, same
    alert flags) when the event stream is replayed in time order across
    three micro-batches — including 6h buckets whose events straddle a
    batch boundary, which only cross-batch state can total correctly."""
    from syscol_spark.plans.catalog import query_catalog
    from syscol_spark.sources.tables import load_table
    from syscol_spark.streaming.analytics import streaming_burn_rate

    expected = {
        tuple(r) for r in query_catalog()["q_ev_burn_rate"](spark, sf_dir).collect()
    }
    assert expected

    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts_utc").alias("event_time"), "event_type", "ts_us"
    )
    lo, hi = ev.agg(F.min("ts_us"), F.max("ts_us")).collect()[0]
    cut1, cut2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3
    src = str(tmp_path / "ev")
    ev.filter(F.col("ts_us") <= cut1).drop("ts_us").coalesce(1).write.parquet(f"{src}/f0")
    ev.filter((F.col("ts_us") > cut1) & (F.col("ts_us") <= cut2)).drop("ts_us").coalesce(1).write.parquet(f"{src}/f1")
    ev.filter(F.col("ts_us") > cut2).drop("ts_us").coalesce(1).write.parquet(f"{src}/f2")

    stream = (
        spark.readStream.schema("event_time timestamp, event_type string")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/f*")
    )
    out = streaming_burn_rate(stream, watermark="1 hour")
    q = (
        out.writeStream.format("memory").queryName("burn").outputMode("update")
        .trigger(availableNow=True).start()
    )
    try:
        q.awaitTermination(180)
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM burn").collect()
    assert rows
    # update mode re-emits a bucket's rows each trigger it receives data;
    # counts grow monotonically, so the final snapshot per h_start is the
    # row with the largest (n_6h, n_1h)
    latest = {}
    for r in rows:
        cur = latest.get(r["h_start"])
        if cur is None or (r["n_6h"], r["n_1h"]) > (cur["n_6h"], cur["n_1h"]):
            latest[r["h_start"]] = r
    got = {tuple(r) for r in latest.values()}
    assert got == expected


def test_streaming_capped_sessions_match_batch(spark, sf_dir, tmp_path):
    """The streamed capped-session snapshot must converge to exactly the
    batch q_ev_session_capped rows when the event stream replays in time
    order across three micro-batches — including sessions and sub-sessions
    that straddle a batch boundary, which only cross-batch per-user state
    can assemble."""
    from syscol_spark.plans.catalog import query_catalog
    from syscol_spark.sources.tables import load_table
    from syscol_spark.streaming.analytics import streaming_capped_sessions

    expected = {
        tuple(r)
        for r in query_catalog()["q_ev_session_capped"](spark, sf_dir).collect()
    }
    assert expected

    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts_utc").alias("event_time"), "user_id", "event_id", "ts_us"
    )
    lo, hi = ev.agg(F.min("ts_us"), F.max("ts_us")).collect()[0]
    cut1, cut2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3
    src = str(tmp_path / "sess_ev")
    ev.filter(F.col("ts_us") <= cut1).drop("ts_us").coalesce(1).write.parquet(f"{src}/f0")
    ev.filter((F.col("ts_us") > cut1) & (F.col("ts_us") <= cut2)).drop("ts_us").coalesce(1).write.parquet(f"{src}/f1")
    ev.filter(F.col("ts_us") > cut2).drop("ts_us").coalesce(1).write.parquet(f"{src}/f2")

    stream = (
        spark.readStream.schema("event_time timestamp, user_id long, event_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/f*")
    )
    out = streaming_capped_sessions(stream, watermark="1 hour")
    q = (
        out.writeStream.format("memory").queryName("capped").outputMode("update")
        .trigger(availableNow=True).start()
    )
    try:
        q.awaitTermination(180)
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM capped").collect()
    assert rows
    # latest snapshot per (user, session anchor, sub): n_events grows
    # monotonically within a sub-session
    latest = {}
    for r in rows:
        k = (r["user_id"], r["session_start_us"], r["sub_session"])
        cur = latest.get(k)
        if cur is None or r["n_events"] > cur["n_events"]:
            latest[k] = r
    got = {
        (r["user_id"], r["session_start_us"], r["sub_session"],
         r["sub_start_us"], r["n_events"], r["duration_us"])
        for r in latest.values()
    }
    want = {
        (r["user_id"], r["session_start_us"], r["sub_session"],
         r["sub_start_us"], r["n_events"], r["duration_us"])
        for r in (query_catalog()["q_ev_session_capped"](spark, sf_dir).collect())
    }
    assert got == want


def test_streaming_norm_dedup_matches_batch_canonicals(spark, sf_dir, tmp_path):
    """The streamed keep set must be exactly the batch q_norm_dedup
    canonical set (one survivor per normalized digest) when docs arrive in
    id order — including messy twins planted in a LATER micro-batch than
    their originals, which only cross-batch digest state can drop."""
    from syscol_spark.functions.text import normalize_text
    from syscol_spark.streaming.analytics import streaming_norm_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    # id-disjoint twin offset derived from the corpus, not a fixed constant
    off = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    twins = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + off).alias("doc_id"),
        F.concat(F.regexp_replace(F.upper("text"), " ", "  "), F.lit(" .")).alias("text"),
    )
    corpus = docs.unionByName(twins)
    expected = {
        r["doc_id"]
        for r in corpus.groupBy(F.md5(normalize_text("text")).alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .collect()
    }

    timed = corpus.withColumn(
        "event_time",
        F.timestamp_micros(1_700_000_000_000_000 + F.col("doc_id") * 1_000),
    )
    src = str(tmp_path / "docs")
    # originals in batches 0-1, ALL twins in batch 2 (doc_id >= off)
    timed.filter((F.col("doc_id") < off) & (F.col("doc_id") % 2 == 0)).coalesce(1).write.parquet(f"{src}/f0")
    timed.filter((F.col("doc_id") < off) & (F.col("doc_id") % 2 == 1)).coalesce(1).write.parquet(f"{src}/f1")
    timed.filter(F.col("doc_id") >= off).coalesce(1).write.parquet(f"{src}/f2")

    stream = (
        spark.readStream.schema("doc_id long, text string, event_time timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/f*")
    )
    out = streaming_norm_dedup(stream, watermark="1 hour")
    q = (
        out.writeStream.format("memory").queryName("norm_dedup").outputMode("append")
        .trigger(availableNow=True).start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = {r["doc_id"] for r in spark.sql("SELECT doc_id FROM norm_dedup").collect()}
    assert got == expected
    # and the planted twins were dropped: none of the offset ids survive
    assert not any(i >= off for i in got)


def test_streaming_cusum_matches_textbook_recursion(spark, sf_dir, tmp_path):
    """The streamed CUSUM monitor must emit, for every minute it closes,
    exactly the textbook recursion S⁺_t = max(0, S⁺_{t-1} + x_t·1e6 − μ − k)
    computed by an independent python loop over the same minutely counts —
    cross-validating BOTH the stream fold and the batch closed form
    (q_ev_cusum derives the same values via prefix-sum − prefix-min),
    including minutes that straddle micro-batch boundaries."""
    from syscol_spark.sources.tables import load_table
    from syscol_spark.streaming.analytics import streaming_cusum

    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts_utc").alias("event_time"), "ts_us"
    )
    # calibration parameters: same integer formulas as the batch query
    minutely = (
        ev.groupBy(F.expr("ts_us div 60000000").alias("m"))
        .agg(F.count(F.lit(1)).alias("x"))
        .orderBy("m")
        .collect()
    )
    counts = {r["m"]: r["x"] for r in minutely}
    n, s = len(counts), sum(counts.values())
    q2 = sum(x * x for x in counts.values())
    mu_micro = s * 1_000_000 // n
    import math

    sd_micro = int(math.floor(math.sqrt(float((n * q2 - s * s) * 10**12 // (n * n)))))
    k_micro = sd_micro // 2

    # independent reference: the textbook max(0, ...) recursion
    expected = {}
    s_plus = 0
    for m in sorted(counts):
        s_plus = max(0, s_plus + counts[m] * 1_000_000 - mu_micro - k_micro)
        expected[m] = s_plus

    lo, hi = ev.agg(F.min("ts_us"), F.max("ts_us")).collect()[0]
    cut1, cut2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3
    src = str(tmp_path / "ev")
    ev.filter(F.col("ts_us") <= cut1).drop("ts_us").coalesce(1).write.parquet(f"{src}/f0")
    ev.filter((F.col("ts_us") > cut1) & (F.col("ts_us") <= cut2)).drop("ts_us").coalesce(
        1
    ).write.parquet(f"{src}/f1")
    ev.filter(F.col("ts_us") > cut2).drop("ts_us").coalesce(1).write.parquet(f"{src}/f2")
    # sentinel event 10 minutes past the stream end: the watermark trails the
    # last processed batch, so without it the final file's minutes never close
    sentinel_us = hi + 600_000_000
    sentinel_m = sentinel_us // 60_000_000
    spark.createDataFrame([(sentinel_us,)], "us long").select(
        F.timestamp_micros("us").alias("event_time")
    ).coalesce(1).write.parquet(f"{src}/f3")

    stream = (
        spark.readStream.schema("event_time timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/f*")
    )
    out = streaming_cusum(
        stream, mu_micro=mu_micro, sd_micro=sd_micro, watermark="0 seconds"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("cusum")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(180)
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM cusum").collect()
    assert rows, "no minutes closed — watermark never advanced"
    seen = {}
    for r in rows:
        assert r["minute_idx"] not in seen, "closed minute emitted twice"
        seen[r["minute_idx"]] = r
    # every closed REAL minute matches the textbook recursion exactly (the
    # sentinel minute, if it ever closed, is not part of the reference)
    h_micro = 5 * sd_micro
    for m, r in seen.items():
        if m == sentinel_m:
            continue
        assert r["n_events"] == counts[m], (m, r)
        assert r["s_plus_micro"] == expected[m], (m, r["s_plus_micro"], expected[m])
        assert r["alarm"] == (expected[m] > h_micro)
    # the sentinel batch's watermark = max real event time, so every real
    # minute except at most the stream-tail minute must have closed
    n_real = len([m for m in seen if m != sentinel_m])
    assert n_real >= len(counts) - 1, (n_real, len(counts))


def test_streaming_inverted_index_matches_batch_build(spark, sf_dir, tmp_path):
    """The posting-stats state folded over three doc-disjoint triggers must
    equal the one-shot batch index EXACTLY (the q_inverted_delta merge
    theorem, exercised through the stateful streaming path)."""
    from syscol_spark.streaming.analytics import streaming_inverted_index

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    src = str(tmp_path / "invidx")
    for k in range(3):
        docs.filter(F.col("doc_id") % 3 == k).coalesce(1).write.parquet(f"{src}/f{k}")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/f*")
    )
    q = (
        streaming_inverted_index(stream)
        .writeStream.format("memory")
        .queryName("invidx")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()

    # update mode re-emits a touched term each trigger; tf_total only grows,
    # so the final snapshot per term is its max-tf_total emission
    final = {}
    for r in spark.sql("SELECT * FROM invidx").collect():
        prev = final.get(r["term"])
        if prev is None or r["tf_total"] > prev["tf_total"]:
            final[r["term"]] = r

    batch = {
        r["term"]: r
        for r in docs.select(
            "doc_id",
            F.posexplode(F.split(F.trim("text"), r"\s+")).alias("pos", "term"),
        )
        .groupBy("term")
        .agg(
            F.countDistinct("doc_id").alias("df"),
            F.count(F.lit(1)).alias("tf_total"),
            F.min("doc_id").alias("first_doc"),
            F.sum("pos").alias("pos_checksum"),
        )
        .collect()
    }
    assert set(final) == set(batch)
    for term, b in batch.items():
        s = final[term]
        assert (s["df"], s["tf_total"], s["first_doc"], s["pos_checksum"]) == (
            b["df"], b["tf_total"], b["first_doc"], b["pos_checksum"]
        ), term


def test_streaming_cms_matches_batch_sketch(spark, sf_dir, tmp_path):
    """Cell counts folded over three event-disjoint triggers must equal the
    one-shot batch sketch EXACTLY (count-min linearity, exercised through
    the stateful streaming path), and the served point estimate for the
    heaviest key must match q_cms_shards."""
    from syscol_spark.operators.sampling import hash_bucket
    from syscol_spark.plans.catalog import query_catalog
    from syscol_spark.streaming.analytics import streaming_cms

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id", "user_id")
    src = str(tmp_path / "cms")
    for k in range(3):
        ev.filter(F.col("event_id") % 3 == k).coalesce(1).write.parquet(f"{src}/f{k}")

    stream = (
        spark.readStream.schema("event_id long, user_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/f*")
    )
    q = (
        streaming_cms(stream)
        .writeStream.format("memory")
        .queryName("cms_cells")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()

    # update mode re-emits a touched cell each trigger; counts only grow,
    # so the final snapshot per cell is its max emission
    final = {}
    for r in spark.sql("SELECT * FROM cms_cells").collect():
        key = (r["depth"], r["bucket"])
        if key not in final or r["cell_cnt"] > final[key]:
            final[key] = r["cell_cnt"]

    batch = {
        (r["depth"], r["bucket"]): r["cell_cnt"]
        for r in ev.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(d).alias("depth"),
                            hash_bucket("user_id", seed, 256).alias("bucket"),
                        )
                        for d, seed in enumerate((11, 13, 17))
                    ]
                )
            ).alias("c")
        )
        .select("c.depth", "c.bucket")
        .groupBy("depth", "bucket")
        .agg(F.count(F.lit(1)).alias("cell_cnt"))
        .collect()
    }
    assert final == batch

    # the sink-served estimate for the heaviest key equals the batch query's
    top = query_catalog()["q_cms_shards"](spark, sf_dir).collect()[0]
    est = min(
        final[(d, b)]
        for d, seed in enumerate((11, 13, 17))
        for b in [
            spark.range(1)
            .select(hash_bucket(F.lit(top["user_id"]), seed, 256).alias("b"))
            .collect()[0]["b"]
        ]
    )
    assert est == top["cms_est"]


def test_streaming_bloom_matches_batch_bits(spark, sf_dir, tmp_path):
    """Set positions folded over three key-disjoint triggers must equal the
    batch bits table exactly, and per-position key counts must sum to
    k x n_keys (every key sets exactly k positions, collisions included)."""
    from syscol_spark.operators.sampling import hash_bucket
    from syscol_spark.streaming.analytics import streaming_bloom

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    src = str(tmp_path / "bloom")
    for k in range(3):
        orders.filter(F.col("o_orderkey") % 3 == k).coalesce(1).write.parquet(
            f"{src}/f{k}"
        )

    stream = (
        spark.readStream.schema("o_orderkey long, o_custkey long")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/f*")
    )
    q = (
        streaming_bloom(stream)
        .writeStream.format("memory")
        .queryName("bloom_bits")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()

    final = {}
    for r in spark.sql("SELECT * FROM bloom_bits").collect():
        if r["pos"] not in final or r["n_keys"] > final[r["pos"]]:
            final[r["pos"]] = r["n_keys"]

    batch = {
        r["pos"]: r["n"]
        for r in orders.select(
            F.explode(
                F.array(*[hash_bucket("o_custkey", s, 8192) for s in (101, 103)])
            ).alias("pos")
        )
        .groupBy("pos")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert final == batch
    assert sum(final.values()) == 2 * orders.count()


def test_streaming_cms_state_survives_restart(spark, sf_dir, tmp_path):
    """Stop the CMS maintainer and restart from the same checkpoint with a
    NEW file pending: the restarted query must process only the new shard,
    and every cell it re-emits must carry the count INCLUDING the recovered
    pre-restart state — i.e. equal the one-shot batch build over all three
    shards (a cold restart would emit only the new shard's contribution)."""
    from syscol_spark.operators.sampling import hash_bucket
    from syscol_spark.streaming.analytics import streaming_cms

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id", "user_id")
    src = str(tmp_path / "cms_src")
    ckpt = str(tmp_path / "cms_ckpt")
    for k in (0, 1):
        ev.filter(F.col("event_id") % 3 == k).coalesce(1).write.parquet(f"{src}/f{k}")

    def run(out_dir):
        # memory sinks cannot recover from a checkpoint; foreachBatch can
        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out_dir)

        stream = (
            spark.readStream.schema("event_id long, user_id long")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/f*")
        )
        q = (
            streaming_cms(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(120)
        finally:
            q.stop()

    run(str(tmp_path / "out1"))

    # new shard lands while the query is down; restart resumes from ckpt
    ev.filter(F.col("event_id") % 3 == 2).coalesce(1).write.parquet(f"{src}/f2")
    out2 = str(tmp_path / "out2")
    run(out2)

    emitted2 = {}
    for r in spark.read.parquet(out2).collect():
        key = (r["depth"], r["bucket"])
        emitted2[key] = max(emitted2.get(key, 0), r["cell_cnt"])
    assert emitted2, "restarted query emitted nothing"

    batch = {
        (r["depth"], r["bucket"]): r["cell_cnt"]
        for r in ev.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(d).alias("depth"),
                            hash_bucket("user_id", seed, 256).alias("bucket"),
                        )
                        for d, seed in enumerate((11, 13, 17))
                    ]
                )
            ).alias("c")
        )
        .select("c.depth", "c.bucket")
        .groupBy("depth", "bucket")
        .agg(F.count(F.lit(1)).alias("cell_cnt"))
        .collect()
    }
    # every re-emitted cell equals the FULL three-shard build: the restart
    # recovered shards 0+1 from state and added shard 2 on top
    for key, cnt in emitted2.items():
        assert cnt == batch[key], (key, cnt, batch[key])


def test_streaming_bloom_state_survives_restart(spark, sf_dir, tmp_path):
    """Stop the counting-bloom maintainer and restart from the checkpoint
    with a NEW key shard pending: every position the restarted query
    re-emits must carry the count INCLUDING the recovered pre-restart
    shards — i.e. equal the one-shot batch position counts over all three
    shards (a cold restart would emit only the new shard's contribution)."""
    from syscol_spark.operators.sampling import hash_bucket
    from syscol_spark.streaming.analytics import streaming_bloom

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey", "o_custkey")
    src = str(tmp_path / "bloom_src")
    ckpt = str(tmp_path / "bloom_ckpt")
    for k in (0, 1):
        orders.filter(F.col("o_orderkey") % 3 == k).coalesce(1).write.parquet(f"{src}/f{k}")

    def run(out_dir):
        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out_dir)

        stream = (
            spark.readStream.schema("o_orderkey long, o_custkey long")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/f*")
        )
        q = (
            streaming_bloom(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(120)
        finally:
            q.stop()

    run(str(tmp_path / "out1"))
    orders.filter(F.col("o_orderkey") % 3 == 2).coalesce(1).write.parquet(f"{src}/f2")
    out2 = str(tmp_path / "out2")
    run(out2)

    emitted2 = {}
    for r in spark.read.parquet(out2).collect():
        emitted2[r["pos"]] = max(emitted2.get(r["pos"], 0), r["n_keys"])
    assert emitted2, "restarted query emitted nothing"

    batch = {
        r["pos"]: r["n"]
        for r in orders.select(
            F.explode(
                F.array(*[hash_bucket("o_custkey", s, 8192) for s in (101, 103)])
            ).alias("pos")
        )
        .groupBy("pos")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for pos, n in emitted2.items():
        assert n == batch[pos], (pos, n, batch[pos])


def test_streaming_inverted_index_state_survives_restart(spark, sf_dir, tmp_path):
    """Restart the inverted-index maintainer from its checkpoint with a new
    doc-disjoint shard pending: every term the restarted query re-emits
    must carry posting stats equal to the full three-shard batch build
    (df/tf/first_doc/pos_checksum), proving the per-term state recovered."""
    from syscol_spark.streaming.analytics import streaming_inverted_index

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    src = str(tmp_path / "idx_src")
    ckpt = str(tmp_path / "idx_ckpt")
    for k in (0, 1):
        docs.filter(F.col("doc_id") % 3 == k).coalesce(1).write.parquet(f"{src}/f{k}")

    def run(out_dir):
        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out_dir)

        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/f*")
        )
        q = (
            streaming_inverted_index(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(180)
        finally:
            q.stop()

    run(str(tmp_path / "out1"))
    docs.filter(F.col("doc_id") % 3 == 2).coalesce(1).write.parquet(f"{src}/f2")
    out2 = str(tmp_path / "out2")
    run(out2)

    # one new file => one batch => each re-emitted term appears once, but
    # fold monotonically anyway (df/tf/checksum grow, first_doc shrinks)
    emitted2 = {}
    for r in spark.read.parquet(out2).collect():
        prev = emitted2.get(r["term"])
        cur = (r["df"], r["tf_total"], r["first_doc"], r["pos_checksum"])
        if prev is None:
            emitted2[r["term"]] = cur
        else:
            emitted2[r["term"]] = (
                max(prev[0], cur[0]),
                max(prev[1], cur[1]),
                min(prev[2], cur[2]),
                max(prev[3], cur[3]),
            )
    assert emitted2, "restarted query emitted nothing"

    batch = {
        r["term"]: (r["df"], r["tf_total"], r["first_doc"], r["pos_checksum"])
        for r in docs.select(
            F.col("doc_id"),
            F.posexplode(F.split(F.trim(F.col("text")), r"\s+")).alias("pos", "term"),
        )
        .groupBy("term")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("df"),
            F.count(F.lit(1)).cast("long").alias("tf_total"),
            F.min("doc_id").cast("long").alias("first_doc"),
            F.sum("pos").cast("long").alias("pos_checksum"),
        )
        .collect()
    }
    for term, stats in emitted2.items():
        assert stats == batch[term], (term, stats, batch[term])


def test_streaming_cdc_compact_state_survives_restart(spark, sf_dir, tmp_path):
    """Restart the CDC compactor from its checkpoint with a new event shard
    pending: every key the restarted query re-emits must equal
    q_cdc_compact over all three shards. A synthetic key has two versions
    with the SAME ts_us in different triggers, the higher event_id landing
    first: it must stay the winner after the restart, which fails if the
    latest-wins order drops event_id (on an ordering tie the later version
    replaces the earlier)."""
    from syscol_spark.plans.catalog import query_catalog
    from syscol_spark.sources.tables import load_table
    from syscol_spark.streaming.analytics import streaming_cdc_compact

    schema = "user_id long, event_type string, event_id long, ts_us long, value double"
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts_us", "value"
    )
    tie_us = 1_700_000_000_000_000
    tie = {
        0: (-1, "tie", 2_000_000_001, tie_us, 1.0),
        2: (-1, "tie", 2_000_000_000, tie_us, 2.0),
    }
    src = str(tmp_path / "cdc_src")
    ckpt = str(tmp_path / "cdc_ckpt")

    def land(k):
        shard = ev.filter(F.col("event_id") % 3 == k)
        if k in tie:
            shard = shard.unionByName(spark.createDataFrame([tie[k]], schema))
        shard.coalesce(1).write.parquet(f"{src}/f{k}")

    def run(out_dir):
        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out_dir)

        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(f"{src}/f*")
        q = (
            streaming_cdc_compact(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(120)
        finally:
            q.stop()

    for k in (0, 1):
        land(k)
    run(str(tmp_path / "out1"))
    land(2)
    out2 = str(tmp_path / "out2")
    run(out2)

    # one new file => one batch, but keep the highest version count anyway
    emitted2 = {}
    for r in spark.read.parquet(out2).collect():
        key = (r["user_id"], r["event_type"])
        cur = (r["n_versions"], r["first_us"], r["last_us"], r["last_value"])
        if key not in emitted2 or cur[0] > emitted2[key][0]:
            emitted2[key] = cur
    assert (-1, "tie") in emitted2, "restarted query did not re-emit the tie key"

    expected = {
        (r["user_id"], r["event_type"]): (
            r["n_versions"], r["first_us"], r["last_us"], r["last_value"]
        )
        for r in query_catalog()["q_cdc_compact"](spark, sf_dir).collect()
    }
    expected[(-1, "tie")] = (2, tie_us, tie_us, 1.0)
    for key, got in emitted2.items():
        assert got == expected[key], (key, got, expected[key])


# (input table, stream schema, file split column, group key of the output)
_NATIVE_TWINS = {
    "cdc_compact": (
        "events",
        "user_id long, event_type string, event_id long, ts_us long, value double",
        "event_id",
        ("user_id", "event_type"),
    ),
    "inverted_index": ("documents", "doc_id long, text string", "doc_id", ("term",)),
    "cms": ("events", "event_id long, user_id long", "event_id", ("depth", "bucket")),
    "bloom": ("orders", "o_orderkey long, o_custkey long", "o_orderkey", ("pos",)),
}


@pytest.mark.parametrize("name", sorted(_NATIVE_TWINS))
def test_replaced_twins_run_without_python_state(spark, sf_dir, tmp_path, name):
    """The four plain-aggregate twins run as Spark's own streaming
    aggregation: the executed plan has no Python node, and the state store
    holds exactly one row per group — at most depth x width = 768 cells for
    the count-min sketch and m = 8,192 positions for the bloom filter."""
    from syscol_spark.sources.tables import load_table
    from syscol_spark.streaming import analytics

    table, schema, split, key = _NATIVE_TWINS[name]
    cols = [c.split()[0] for c in schema.split(", ")]
    data = load_table(spark, sf_dir, table).select(*cols)
    src = str(tmp_path / "src")
    for k in range(3):
        data.filter(F.col(split) % 3 == k).coalesce(1).write.parquet(f"{src}/f{k}")
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(f"{src}/f*")
    sink = f"native_{name}"
    q = (
        getattr(analytics, f"streaming_{name}")(stream)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
        plan = q._jsq.explainInternal(False)
        progress = q.lastProgress
    finally:
        q.stop()

    assert "FlatMapGroupsInPandasWithState" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan
    assert "StateStoreSave" in plan, plan
    n_groups = spark.sql(f"SELECT * FROM {sink}").select(*key).distinct().count()
    assert n_groups > 0
    assert progress["stateOperators"][0]["numRowsTotal"] == n_groups
    bound = {"cms": 3 * 256, "bloom": 8192}.get(name)
    if bound is not None:
        assert n_groups <= bound, (n_groups, bound)


def test_streaming_heavy_hitters_state_survives_restart(spark, tmp_path):
    """Restart the Misra-Gries maintainer (the most restart-fragile state
    shape: a variable-length counter map plus the decrement tally) from its
    checkpoint with a new shard pending. Proofs, order-independent:
    (1) the re-emitted shard_n equals the FULL three-file row count — a
    cold restart would count only the new file; (2) every re-emitted
    counter still brackets the item's true total count in [lower, upper];
    (3) the guaranteed-present property holds over the full stream."""
    import collections

    from syscol_spark.streaming.analytics import streaming_heavy_hitters

    rows = []
    seq = 0
    for rank in range(1, 101):
        freq = max(1, 300 // rank)
        for _ in range(freq):
            rows.append((seq, f"item{rank:03d}"))
            seq += 1
    truth = collections.Counter(it for _, it in rows)
    df = spark.createDataFrame(rows, "seq long, item string")
    src = str(tmp_path / "hh_src")
    ckpt = str(tmp_path / "hh_ckpt")
    for k in (0, 1):
        df.filter(F.col("seq") % 3 == k).coalesce(1).write.parquet(f"{src}/f{k}")

    capacity = 16

    def run(out_dir):
        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out_dir)

        stream = (
            spark.readStream.schema("seq long, item string")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/f*")
        )
        q = (
            streaming_heavy_hitters(stream, "item", capacity=capacity, n_shards=1)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(120)
        finally:
            q.stop()

    run(str(tmp_path / "out1"))
    df.filter(F.col("seq") % 3 == 2).coalesce(1).write.parquet(f"{src}/f2")
    out2 = str(tmp_path / "out2")
    run(out2)

    rows2 = spark.read.parquet(out2).collect()
    assert rows2, "restarted query emitted nothing"
    final_n = max(r["shard_n"] for r in rows2)
    # state recovered: the single shard's row count spans ALL THREE files
    assert final_n == len(rows), (final_n, len(rows))
    final = {r["item"]: (r["lower"], r["upper"]) for r in rows2 if r["shard_n"] == final_n}
    assert len(final) <= capacity
    for item, (lo, hi) in final.items():
        assert lo <= truth[item] <= hi, (item, lo, truth[item], hi)
    for item, cnt in truth.items():
        if cnt * capacity > len(rows):
            assert item in final, (item, cnt)


def test_idempotent_sink_replay_produces_no_duplicates(spark, tmp_path):
    """The exactly-once foreachBatch discipline (K3 upgrade): a replayed
    batch_id REPLACES its own partition instead of appending. Simulates the
    crash-replay sequence directly: attempt 1 of batch 0 lands partial
    output, the replay re-writes batch 0 in full, then batch 1 commits —
    the sink dir must hold exactly batch0 ∪ batch1, no duplicate rows."""
    from syscol_spark.streaming.pipeline import idempotent_parquet_sink

    out = str(tmp_path / "sink_out")
    sink = idempotent_parquet_sink(out)
    batch0 = spark.createDataFrame([(i, f"v{i}") for i in range(10)], "id long, v string")
    batch1 = spark.createDataFrame([(i, f"v{i}") for i in range(10, 15)], "id long, v string")

    sink(batch0.filter(F.col("id") < 4), 0)  # partial first attempt (crash mid-epoch)
    sink(batch0, 0)  # replay of the SAME batch_id
    sink(batch1, 1)

    got = sorted((r["id"], r["v"], r["batch_id"]) for r in spark.read.parquet(out).collect())
    want = sorted(
        [(i, f"v{i}", 0) for i in range(10)] + [(i, f"v{i}", 1) for i in range(10, 15)]
    )
    assert got == want  # exactly-once: replay replaced, batch 1 untouched


def test_kafka_txn_sink_replay_dedups_to_exactly_once(spark, tmp_path):
    """The Kafka-side exactly-once variant (K3 upgrade, VERDICT r10 ask #4):
    an APPEND-ONLY transport (modeling Kafka — no partition overwrite
    possible) where every record embeds a replay-deterministic txn_id.
    Crash-replay sequence: partial attempt of batch 0, full replay of
    batch 0, then batch 1. The raw stream MUST contain duplicates (that's
    at-least-once); the consumer-side dedup view must collapse them to
    exactly batch0 ∪ batch1 — including byte-identical duplicate ROWS
    within a batch, which get distinct ordinals but replay-stable ids."""
    from syscol_spark.streaming.pipeline import dedup_consumed, kafka_txn_append_sink

    out = str(tmp_path / "kafka_model")
    sink = kafka_txn_append_sink(out)
    # batch 0 carries a byte-identical duplicate pair (id=3 twice): the
    # ordinal leg of txn_id must keep BOTH copies while still deduping the
    # replay
    rows0 = [(i, f"v{i}") for i in range(5)] + [(3, "v3")]
    batch0 = spark.createDataFrame(rows0, "id long, v string")
    batch1 = spark.createDataFrame([(i, f"v{i}") for i in range(10, 13)], "id long, v string")

    sink(batch0.limit(3), 0)  # partial first attempt (crash mid-epoch)
    sink(batch0, 0)  # replay of the SAME batch_id: duplicates land
    sink(batch1, 1)

    raw = spark.read.parquet(out)
    assert raw.count() > len(rows0) + 3  # transport is at-least-once
    # replayed txn_ids are IDENTICAL to first-attempt ids (subset property)
    ids0 = {r["txn_id"] for r in raw.filter(F.col("txn_id").startswith("0-")).collect()}
    assert len(ids0) == len(rows0)  # 6 distinct ids despite 9 landed rows

    consumed = dedup_consumed(raw)
    got = sorted((r["id"], r["v"]) for r in consumed.collect())
    want = sorted(rows0 + [(i, f"v{i}") for i in range(10, 13)])
    assert got == want  # exactly-once view, duplicate source rows preserved


def test_with_txn_ids_reserved_and_missing_column_guards(spark):
    import pytest

    from syscol_spark.streaming.pipeline import dedup_consumed, with_txn_ids

    df = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError, match="reserved"):
        with_txn_ids(df.withColumn("txn_id", F.lit("x")), 0)
    with pytest.raises(ValueError, match="txn_id"):
        dedup_consumed(df)


def test_idempotent_sink_rejects_reserved_batch_id_column(spark, tmp_path):
    # a pre-existing batch_id column would be silently REPLACED by the
    # sink's epoch stamp, corrupting user data — fail fast instead
    import pytest

    from syscol_spark.streaming.pipeline import idempotent_parquet_sink

    sink = idempotent_parquet_sink(str(tmp_path / "out"))
    bad = spark.createDataFrame([(1, 99)], "id long, batch_id long")
    with pytest.raises(ValueError, match="reserved"):
        sink(bad, 0)


def test_idempotent_sink_streaming_epoch_replay(spark, tmp_path):
    """End-to-end exactly-once proof through Structured Streaming itself:
    run an availableNow query to completion, delete the checkpoint's LAST
    commit marker (the crash-between-write-and-commit window), and restart.
    The engine replays that epoch with the SAME batch_id; an append sink
    would now hold duplicates, the idempotent sink must not."""
    import glob
    import os

    from syscol_spark.streaming.pipeline import idempotent_parquet_sink

    df = spark.createDataFrame([(i, i % 7) for i in range(100)], "id long, k long")
    src = str(tmp_path / "src")
    for part in (0, 1):
        df.filter(F.col("id") % 2 == part).coalesce(1).write.parquet(f"{src}/f{part}")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run():
        stream = (
            spark.readStream.schema("id long, k long")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/f*")
        )
        q = (
            stream.writeStream.foreachBatch(idempotent_parquet_sink(out))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(120)
        finally:
            q.stop()

    run()
    first = sorted(r["id"] for r in spark.read.parquet(out).collect())
    assert first == sorted(range(100))

    # crash window: sink output landed but the commit marker did not
    commits = sorted(glob.glob(f"{ckpt}/commits/[0-9]*"))
    assert commits, "checkpoint has no commit markers"
    os.remove(commits[-1])
    crc = os.path.join(
        os.path.dirname(commits[-1]), f".{os.path.basename(commits[-1])}.crc"
    )
    if os.path.exists(crc):  # local-FS checksum sidecar blocks the re-commit
        os.remove(crc)
    run()  # replays the uncommitted epoch with the same batch_id

    replayed = sorted(r["id"] for r in spark.read.parquet(out).collect())
    assert replayed == sorted(range(100)), "replayed epoch duplicated rows"


# --- kill/restart proofs for the remaining stateful twins (r10 ask #3) ------
# Shared pattern (same as the r10 CMS/bloom/inverted-index/heavy-hitters
# proofs): run the twin over the first shards with a checkpointed
# foreachBatch parquet sink, STOP it, land a new shard, restart from the
# same checkpoint — the restarted query processes only the new shard, and
# the combined emissions must equal the one-shot batch reference over ALL
# shards, which is only possible if the pre-restart state was recovered.


def _restart_run(spark, builder, schema, src_glob, ckpt, out_dir, output_mode, timeout=180):
    """One checkpointed run of a streaming twin over whatever source files
    currently exist; every emission lands in out_dir stamped with its
    batch_id (monotone across restarts — the restart discriminator)."""

    def sink(batch_df, batch_id):
        batch_df.withColumn("__bid", F.lit(int(batch_id))).write.mode("append").parquet(out_dir)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_glob)
    )
    q = (
        builder(stream)
        .writeStream.foreachBatch(sink)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(timeout)
    finally:
        q.stop()


def test_streaming_minhash_dedup_state_survives_restart(spark, sf_dir, tmp_path):
    """Kill the MinHash-LSH dedup between shards: pairs that straddle the
    restart (one doc pre-restart, one post) can only be discovered if the
    restarted query recovered the LSH bucket member lists from the
    checkpoint — a cold restart would emit only post-restart-vs-post-
    restart pairs. Combined emissions must equal the batch candidate set."""
    from syscol_spark.operators.dedup import minhash_lsh_candidates, minhash_signatures
    from syscol_spark.streaming.analytics import streaming_minhash_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    expected = {
        (r["id_a"], r["id_b"], r["est_jaccard"])
        for r in minhash_lsh_candidates(minhash_signatures(docs, "text", "doc_id")).collect()
    }
    cross = {(a, b) for a, b, _ in expected if (a % 3 == 2) != (b % 3 == 2)}
    assert cross, "fixture must contain pairs straddling the restart shard"

    timed = docs.withColumn(
        "event_time", F.timestamp_micros(1_700_000_000_000_000 + F.col("doc_id") * 1_000_000)
    )
    src = str(tmp_path / "docs")
    for k in (0, 1):
        timed.filter(F.col("doc_id") % 3 == k).coalesce(1).write.parquet(f"{src}/f{k}")
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    schema = "doc_id long, text string, event_time timestamp"

    def build(stream):
        return streaming_minhash_dedup(stream, watermark="1 hour")

    _restart_run(spark, build, schema, f"{src}/f*", ckpt, out, "append")
    bid1 = spark.read.parquet(out).agg(F.max("__bid")).collect()[0][0]

    # the straddling shard lands while the query is down
    timed.filter(F.col("doc_id") % 3 == 2).coalesce(1).write.parquet(f"{src}/f2")
    _restart_run(spark, build, schema, f"{src}/f*", ckpt, out, "append")

    rows = spark.read.parquet(out).collect()
    got = {(r["id_a"], r["id_b"], r["est_jaccard"]) for r in rows}
    assert got == expected
    # every straddling pair was discovered by the RESTARTED query, against
    # members recovered from pre-restart state
    run2_pairs = {(r["id_a"], r["id_b"]) for r in rows if r["__bid"] > bid1}
    assert cross <= run2_pairs


def test_streaming_semantic_dedup_state_survives_restart(spark, sf_dir, tmp_path):
    """Kill SemDeDup between id-range shards (the most restart-fragile
    state in the set: persisted quantizer + per-cluster member lists): a
    shard-3 vector whose ONLY lower-id lookalikes arrived pre-restart must
    still be dropped — provably impossible without recovered member lists.
    Combined emissions must equal the batch operator's decisions."""
    import numpy as np

    from syscol_spark.operators.similarity import kmeans_centroids, semantic_dedup
    from syscol_spark.functions.rounding import round6_like_spark
    from syscol_spark.streaming.analytics import streaming_semantic_dedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    cents = kmeans_centroids(emb, k=16, max_iter=3, train_stride=1)
    expected = {
        (r["vec_id"], r["cluster"], r["keep"])
        for r in semantic_dedup(emb, n_clusters=16, min_cosine=0.2, max_iter=3).collect()
    }

    cut = 340  # shard boundaries as in the batch-parity twin test
    # driver-side oracle for the discriminator (500 x 64 fixture — tiny):
    # shard-3 ids the FULL corpus drops but a shard-3-only (state-lost)
    # stream would keep, because every dropping lookalike is pre-restart
    vecs = {int(r["vec_id"]): np.array(r["embedding"], dtype="float64") for r in emb.collect()}
    cluster_of = {v: c for v, c, _ in expected}
    keep_of = {v: k for v, _, k in expected}

    def drops_against(i, members):
        vi = vecs[i]
        ni = float(np.sqrt(vi @ vi))
        for j in members:
            vj = vecs[j]
            cos = float(vi @ vj) / (ni * float(np.sqrt(vj @ vj)))
            if round6_like_spark(cos) >= 0.2:
                return True
        return False

    cross_drops = [
        i
        for i in vecs
        if i >= cut
        and not keep_of[i]
        and not drops_against(
            i, [j for j in vecs if cut <= j < i and cluster_of[j] == cluster_of[i]]
        )
    ]
    assert cross_drops, "fixture must contain drops that depend on pre-restart members"

    timed = emb.withColumn(
        "event_time", F.timestamp_micros(1_700_000_000_000_000 + F.col("vec_id") * 1_000_000)
    )
    src = str(tmp_path / "vecs")
    for k, (lo, hi) in enumerate([(0, 170), (170, cut)]):
        timed.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)).coalesce(1).write.parquet(
            f"{src}/f{k}"
        )
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    schema = "vec_id long, embedding array<float>, event_time timestamp"

    def build(stream):
        return streaming_semantic_dedup(stream, cents, min_cosine=0.2, watermark="1 hour")

    _restart_run(spark, build, schema, f"{src}/f*", ckpt, out, "append")
    bid1 = spark.read.parquet(out).agg(F.max("__bid")).collect()[0][0]

    timed.filter(F.col("vec_id") >= cut).coalesce(1).write.parquet(f"{src}/f2")
    _restart_run(spark, build, schema, f"{src}/f*", ckpt, out, "append")

    rows = spark.read.parquet(out).collect()
    got = {(r["vec_id"], r["cluster"], r["keep"]) for r in rows}
    assert got == expected
    run2_flags = {r["vec_id"]: r["keep"] for r in rows if r["__bid"] > bid1}
    for i in cross_drops:
        assert run2_flags[i] is False, f"vec {i} kept: pre-restart members lost"


def test_streaming_capped_sessions_state_survives_restart(spark, sf_dir, tmp_path):
    """Kill the capped sessionizer mid-stream at a time cut that an open
    session straddles: the restarted query must CONTINUE that session from
    recovered state (anchor + sub-bucket counters) instead of re-anchoring
    a new session at the first post-restart event. Latest snapshot per
    (user, session, sub) over both runs must equal the batch rows."""
    from syscol_spark.plans.catalog import query_catalog
    from syscol_spark.sources.tables import load_table
    from syscol_spark.streaming.analytics import streaming_capped_sessions

    want = {
        (r["user_id"], r["session_start_us"], r["sub_session"],
         r["sub_start_us"], r["n_events"], r["duration_us"])
        for r in query_catalog()["q_ev_session_capped"](spark, sf_dir).collect()
    }
    assert want

    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts_utc").alias("event_time"), "user_id", "event_id", "ts_us"
    )
    lo = ev.agg(F.min("ts_us")).collect()[0][0]
    # derive the restart cut FROM the data so it provably interrupts a
    # session mid-flight (the fixture is sparse: arbitrary cuts land
    # between sessions and the test would not discriminate a cold restart):
    # cut just after the first event of some multi-event sub-session
    multi = sorted((r for r in want if r[4] >= 2 and r[5] > 0), key=lambda r: r[3])
    assert multi, "fixture must contain a multi-event sub-session"
    cut2 = multi[len(multi) // 2][3] + 1  # µs after that sub's first event
    cut1 = (lo + cut2) // 2
    straddling = [
        (r[0], r[1])
        for r in want
        if r[1] <= cut2 < max(x[3] + x[5] for x in want if (x[0], x[1]) == (r[0], r[1]))
    ]
    assert straddling, "fixture must contain a session straddling the restart cut"

    src = str(tmp_path / "ev")
    ev.filter(F.col("ts_us") <= cut1).drop("ts_us").coalesce(1).write.parquet(f"{src}/f0")
    ev.filter((F.col("ts_us") > cut1) & (F.col("ts_us") <= cut2)).drop("ts_us").coalesce(1).write.parquet(f"{src}/f1")
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    schema = "event_time timestamp, user_id long, event_id long"

    def build(stream):
        return streaming_capped_sessions(stream, watermark="1 hour")

    _restart_run(spark, build, schema, f"{src}/f*", ckpt, out, "update")

    ev.filter(F.col("ts_us") > cut2).drop("ts_us").coalesce(1).write.parquet(f"{src}/f2")
    _restart_run(spark, build, schema, f"{src}/f*", ckpt, out, "update")

    latest = {}
    for r in spark.read.parquet(out).collect():
        k = (r["user_id"], r["session_start_us"], r["sub_session"])
        cur = latest.get(k)
        if cur is None or r["n_events"] > cur["n_events"]:
            latest[k] = r
    got = {
        (r["user_id"], r["session_start_us"], r["sub_session"],
         r["sub_start_us"], r["n_events"], r["duration_us"])
        for r in latest.values()
    }
    assert got == want


def test_streaming_burn_rate_state_survives_restart(spark, sf_dir, tmp_path):
    """Kill the burn-rate maintainer at a cut inside a 6 h budget bucket:
    the restarted query's re-emissions for that bucket must total the
    recovered pre-restart sub-counters PLUS the new shard (a cold restart
    would report only post-cut counts and break parity with the batch
    q_ev_burn_rate rows)."""
    from syscol_spark.plans.catalog import query_catalog
    from syscol_spark.sources.tables import load_table
    from syscol_spark.streaming.analytics import streaming_burn_rate

    expected = {
        tuple(r) for r in query_catalog()["q_ev_burn_rate"](spark, sf_dir).collect()
    }
    assert expected

    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts_utc").alias("event_time"), "event_type", "ts_us"
    )
    lo = ev.agg(F.min("ts_us")).collect()[0][0]
    # derive the restart cut FROM the data so it provably lands INSIDE a
    # 6 h bucket (events on both sides): midpoint of the busiest bucket
    # (the fixture is sparse — arbitrary cuts fall between buckets and the
    # test would not discriminate a cold restart)
    buckets = (
        ev.select((F.col("ts_us") - F.pmod("ts_us", F.lit(21_600_000_000))).alias("s"), "ts_us")
        .groupBy("s")
        .agg(F.min("ts_us").alias("mn"), F.max("ts_us").alias("mx"), F.count("*").alias("n"))
        .filter(F.col("mn") < F.col("mx"))
        .orderBy(F.desc("n"))
        .collect()
    )
    assert buckets, "fixture must contain a 6h bucket with >= 2 event times"
    cut2 = (buckets[0]["mn"] + buckets[0]["mx"]) // 2
    cut1 = (lo + cut2) // 2

    src = str(tmp_path / "ev")
    ev.filter(F.col("ts_us") <= cut1).drop("ts_us").coalesce(1).write.parquet(f"{src}/f0")
    ev.filter((F.col("ts_us") > cut1) & (F.col("ts_us") <= cut2)).drop("ts_us").coalesce(1).write.parquet(f"{src}/f1")
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    schema = "event_time timestamp, event_type string"

    def build(stream):
        return streaming_burn_rate(stream, watermark="1 hour")

    _restart_run(spark, build, schema, f"{src}/f*", ckpt, out, "update")

    ev.filter(F.col("ts_us") > cut2).drop("ts_us").coalesce(1).write.parquet(f"{src}/f2")
    _restart_run(spark, build, schema, f"{src}/f*", ckpt, out, "update")

    latest = {}
    for r in spark.read.parquet(out).collect():
        cur = latest.get(r["h_start"])
        if cur is None or (r["n_6h"], r["n_1h"]) > (cur["n_6h"], cur["n_1h"]):
            latest[r["h_start"]] = r
    got = {tuple(r)[:-1] for r in latest.values()}  # drop __bid
    assert got == expected


def test_streaming_topk_state_survives_restart_apiws(spark, sf_dir, tmp_path):
    """Kill/restart for the applyInPandasWithState top-k: the post-restart
    per-group emission must rank recovered pre-restart rows against the new
    shard's."""
    from syscol_spark.plans.catalog import query_catalog
    from syscol_spark.streaming.analytics import streaming_topk_per_group

    expected = {
        (r["event_type"], r["event_id"], r["value"], r["rk"])
        for r in query_catalog()["q_ev_topk_per_group"](spark, sf_dir).collect()
    }
    assert expected

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_type", "event_id", "value")
    src = str(tmp_path / "ev")
    for k in (0, 1):
        ev.filter(F.col("event_id") % 3 == k).coalesce(1).write.parquet(f"{src}/f{k}")
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    schema = "event_type string, event_id long, value double"

    def build(stream):
        return streaming_topk_per_group(stream, k=3)

    _restart_run(spark, build, schema, f"{src}/f*", ckpt, out, "update")
    bid1 = spark.read.parquet(out).agg(F.max("__bid")).collect()[0][0]

    ev.filter(F.col("event_id") % 3 == 2).coalesce(1).write.parquet(f"{src}/f2")
    _restart_run(spark, build, schema, f"{src}/f*", ckpt, out, "update")

    rows = spark.read.parquet(out).collect()
    last_batch: dict[str, int] = {}
    for r in rows:
        last_batch[r["event_type"]] = max(last_batch.get(r["event_type"], -1), r["__bid"])
    got = {
        (r["event_type"], r["event_id"], r["value"], r["rk"])
        for r in rows
        if r["__bid"] == last_batch[r["event_type"]]
    }
    assert got == expected
    # the restarted emission must still carry PRE-restart event ids in the
    # top-k (state recovered) — a cold restart would rank only shard-2 rows
    run2_prestart_ids = [
        r["event_id"] for r in rows if r["__bid"] > bid1 and r["event_id"] % 3 != 2
    ]
    assert run2_prestart_ids, "restarted top-k lost pre-restart members"
