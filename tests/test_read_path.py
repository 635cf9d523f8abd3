"""Consumer-side round trip: producer-serialized bytes → parse → long view →
aggregation, for BOTH wire formats (batch frames stand in for a Kafka topic;
identical bytes, different transport)."""

from __future__ import annotations

import pyspark.sql.functions as F

from syscol_spark.config import CollectorConfig
from syscol_spark.functions.envelope import ENVELOPE_SCHEMA, enrich_envelope
from syscol_spark.streaming.analytics import long_view, parse_serialized_stream
from syscol_spark.streaming.pipeline import serialized_value


def _envelope_frame(spark):
    rows = [
        ("S1", "h1", 5051, "ns", 1_704_067_200_000_000_000 + i * 10**9, {"m/a": float(i), "m/b": 2.0 * i})
        for i in range(10)
    ]
    df = spark.createDataFrame(rows, ENVELOPE_SCHEMA)
    return df.select(
        enrich_envelope(
            F.col("Metrics"), slave_id=F.col("SlaveID"), hostname=F.col("Hostname"),
            port=F.col("Port"), namespace=F.col("Namespace"), timestamp_ns=F.col("Timestamp"),
        ).alias("envelope")
    )


def _round_trip(spark, transform: str):
    cfg = CollectorConfig(transform=transform, schema_registry_url="http://127.0.0.1:1")
    env = _envelope_frame(spark)
    wire = env.select(serialized_value(F.col("envelope"), cfg).alias("value"))
    parsed = parse_serialized_stream(wire, transform=transform)
    lv = long_view(parsed)
    agg = (
        lv.groupBy("hostname", "metric")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .collect()
    )
    out = {(r["hostname"], r["metric"]): (r["n"], r["total"]) for r in agg}
    assert out[("h1", "m/a")] == (10, 45.0)
    assert out[("h1", "m/b")] == (10, 90.0)
    # ns fidelity survives the round trip
    ts_ns = sorted(r["ts_ns"] for r in lv.select("ts_ns").distinct().collect())
    assert ts_ns[0] == 1_704_067_200_000_000_000


def test_read_path_json(spark):
    _round_trip(spark, "none")


def test_corrupt_avro_frame_yields_null_not_failure(spark):
    bad = spark.createDataFrame([(bytearray(b"\x07garbage"),), (None,)], "value binary")
    parsed = parse_serialized_stream(bad, transform="avro")
    rows = parsed.collect()  # must NOT raise
    assert all(r["envelope"] is None for r in rows)
    assert long_view(parsed).count() == 0  # nulls drop out of the long view


def test_read_path_confluent_avro(spark):
    _round_trip(spark, "avro")


def _python_udf_nodes(df) -> int:
    """ArrowEvalPython nodes in ``df``'s executed physical plan."""
    plan = df._jdf.queryExecution().executedPlan()  # noqa: SLF001
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    return sum(1 for line in plan.toString().splitlines() if "ArrowEvalPython" in line)


def test_avro_long_view_decodes_each_frame_once(spark):
    """The filter Catalyst infers from long_view's explode (size(Metrics) > 0)
    must not be pushed below the decode and run it a second time."""
    cfg = CollectorConfig(transform="avro", schema_registry_url="http://127.0.0.1:1")
    env = spark.range(100).select(
        enrich_envelope(
            F.create_map(F.lit("m/a"), F.col("id").cast("double"), F.lit("m/b"), F.lit(1.0)),
            slave_id=F.lit("S1"), hostname=F.lit("h1"), port=F.lit(5051), namespace=F.lit(""),
            timestamp_ns=F.col("id") * 10**9,
        ).alias("envelope")
    )
    rows = env.select(serialized_value(F.col("envelope"), cfg).alias("value")).collect()
    frames = spark.createDataFrame(rows, "value binary")
    lv = long_view(parse_serialized_stream(frames, transform="avro"))
    assert len(lv.collect()) == 200
    assert _python_udf_nodes(lv) == 1


def test_avro_parse_in_streaming_plan(spark):
    """The decode UDF is nondeterministic; Spark must still accept it in a
    streaming plan (rate source → encode → decode → long view)."""
    cfg = CollectorConfig(transform="avro", schema_registry_url="http://127.0.0.1:1")
    src = spark.readStream.format("rate-micro-batch").option("rowsPerBatch", 5).load()
    env = enrich_envelope(
        F.create_map(F.lit("m/a"), F.col("value").cast("double")),
        slave_id=F.lit("S1"), hostname=F.lit("h1"), port=F.lit(5051), namespace=F.lit(""),
        timestamp_ns=F.col("value") * 10**9,
    )
    wire = src.select(serialized_value(env, cfg).alias("value"))
    lv = long_view(parse_serialized_stream(wire, transform="avro"))
    q = lv.writeStream.format("memory").queryName("avro_stream").trigger(availableNow=True).start()
    try:
        finished = q.awaitTermination(60)
    finally:
        q.stop()
    assert finished, "availableNow stream did not finish"
    rows = spark.sql("SELECT * FROM avro_stream").collect()
    assert rows and all(r["metric"] == "m/a" and r["hostname"] == "h1" for r in rows)
    assert all(r["ts_ns"] == int(r["value"]) * 10**9 for r in rows)


def test_jsonl_corpus_quarantines_corrupt_lines(spark, tmp_path):
    """Malformed JSONL lines must land in the quarantine frame — never fail
    the read, never silently disappear."""
    from syscol_spark.sources.text_corpus import read_jsonl, split_corrupt

    p = tmp_path / "shard.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "hello world", "lang": "en", "source": "s1"}\n'
        "this line is not json at all\n"
        '{"doc_id": 2, "text": "bonjour", "lang": "fr", "source": "s2"}\n'
        '{"doc_id": 3, "text": "truncated...\n'
    )
    clean, bad = split_corrupt(read_jsonl(spark, str(p)))
    rows = {r["doc_id"]: r for r in clean.collect()}
    assert set(rows) == {1, 2}
    assert rows[1]["text"] == "hello world" and rows[2]["lang"] == "fr"
    bad_lines = [r["raw_line"] for r in bad.collect()]
    assert len(bad_lines) == 2
    assert "not json" in bad_lines[0]


def test_csv_corpus_quarantines_bad_rows(spark, tmp_path):
    from syscol_spark.sources.text_corpus import read_csv, split_corrupt

    p = tmp_path / "shard.csv"
    p.write_text(
        "doc_id,text,lang,source\n"
        "1,hello,en,s1\n"
        "not_a_number,broken,xx,s2\n"
        "2,salut,fr,s3\n"
    )
    clean, bad = split_corrupt(read_csv(spark, str(p)))
    assert {r["doc_id"] for r in clean.collect()} == {1, 2}
    assert bad.count() == 1


# --- fan-out shim path-scheme awareness --------------------------------------


def test_needs_fan_out_hadoop_fs_matches_local(spark, sf_dir):
    """The small-file fan-out heuristic reads one set of stats through the
    Hadoop FileSystem API (the same API an s3a:// or gs:// path uses): a
    plain path resolves through the default local filesystem and must give
    the same (bytes, files) and the same decision as its file:// form."""
    from syscol_spark.sources.tables import _fan_out_cache, _hadoop_stats, _needs_fan_out

    plain = f"{sf_dir}/documents.parquet"
    uri = f"file://{plain}"
    assert _hadoop_stats(spark, plain) is not None
    assert _hadoop_stats(spark, plain) == _hadoop_stats(spark, uri)
    _fan_out_cache.pop(plain, None)
    _fan_out_cache.pop(uri, None)
    assert _needs_fan_out(spark, uri) == _needs_fan_out(spark, plain)
    # a directory with hidden/_SUCCESS-style entries counts visible bytes only
    assert _hadoop_stats(spark, sf_dir) == _hadoop_stats(spark, f"file://{sf_dir}")


def test_needs_fan_out_missing_path_is_false(spark):
    from syscol_spark.sources.tables import _needs_fan_out

    assert _needs_fan_out(spark, "/no/such/file.parquet") is False
    assert _needs_fan_out(spark, "file:///no/such/file.parquet") is False
