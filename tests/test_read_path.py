"""Consumer-side round trip: producer-serialized bytes → parse → long view →
aggregation, for BOTH wire formats (batch frames stand in for a Kafka topic;
identical bytes, different transport)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

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


# --- table loads: schema and fan-out resolved once per file version ---------


def _write(root, name: str, columns: dict) -> str:
    """Write ``columns`` as ``root/name.parquet`` (one uncompressed file)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = f"{root}/{name}.parquet"
    pq.write_table(pa.table(columns), path, compression="none")
    return path


def _load_jobs(spark, root, name: str):
    """A ``load_table`` and the Spark jobs it submitted."""
    from scripts.ledger import _jobs_submitted
    from syscol_spark.sources.tables import load_table

    j0 = _jobs_submitted(spark)
    df = load_table(spark, str(root), name)
    return df, _jobs_submitted(spark) - j0


def test_warm_load_runs_no_job_and_sees_a_rewrite(spark, tmp_path):
    from syscol_spark.sources.tables import _resolved

    path = _write(tmp_path, "t", {"a": [1, 2, 3]})
    df, jobs = _load_jobs(spark, tmp_path, "t")
    assert jobs == 1 and df.columns == ["a"]
    df, jobs = _load_jobs(spark, tmp_path, "t")
    assert jobs == 0 and sorted(r["a"] for r in df.collect()) == [1, 2, 3]
    # overwritten with an added column: a new version, inferred again
    _write(tmp_path, "t", {"a": [1, 2, 3], "b": ["x", "y", "z"]})
    df, jobs = _load_jobs(spark, tmp_path, "t")
    assert jobs == 1 and df.columns == ["a", "b"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, "x"), (2, "y"), (3, "z")]
    _write(tmp_path, "t", {"a": [1.5], "b": ["x"], "c": [True]})
    df, jobs = _load_jobs(spark, tmp_path, "t")
    assert jobs == 1 and df.dtypes == [("a", "double"), ("b", "string"), ("c", "boolean")]
    # two rewrites later the path still holds one entry, the latest version
    assert [k for k in _resolved if k.startswith(str(tmp_path))] == [path]
    assert _resolved[path].schema == df.schema


def test_schema_conf_change_reinfers(spark, tmp_path):
    _write(tmp_path, "t", {"k": [1], "raw": [b"abc"]})
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        df, _ = _load_jobs(spark, tmp_path, "t")
        assert dict(df.dtypes)["raw"] == "string" and df.first()["raw"] == "abc"
        spark.conf.set(key, "false")
        df, jobs = _load_jobs(spark, tmp_path, "t")
        assert jobs == 1 and dict(df.dtypes)["raw"] == "binary" and bytes(df.first()["raw"]) == b"abc"
    finally:
        spark.conf.set(key, before)


def test_missing_table_raises_what_spark_read_raises(spark, tmp_path):
    from pyspark.errors import AnalysisException

    from syscol_spark.sources.tables import load_table

    with pytest.raises(AnalysisException) as plain:
        spark.read.parquet(f"{tmp_path}/nope.parquet")
    with pytest.raises(AnalysisException) as loaded:
        load_table(spark, str(tmp_path), "nope")
    assert loaded.value.getCondition() == plain.value.getCondition() == "PATH_NOT_FOUND"


def test_two_loads_of_one_table_self_join(spark, sf_dir):
    """Each load is a fresh relation with its own attribute ids, so two
    loads of ``nation`` self-join as two separate reads do."""
    from syscol_spark.sources.tables import load_table

    def pairs(n1, n2):
        return sorted(
            tuple(r)
            for r in n1.join(n2, n1["n_regionkey"] == n2["n_regionkey"])
            .select(n1["n_name"], n2["n_name"])
            .collect()
        )

    path = f"{sf_dir}/nation.parquet"
    want = pairs(spark.read.parquet(path), spark.read.parquet(path))
    got = pairs(load_table(spark, sf_dir, "nation"), load_table(spark, sf_dir, "nation"))
    assert got == want and len(want) > 25


def test_fan_out_follows_a_rewrite_across_the_lower_bound(spark, tmp_path):
    """A ``documents`` file rewritten from under 256 KiB to over it in the
    same process takes the new repartition decision."""
    import random

    from syscol_spark.sources.tables import _resolved

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001

    rng = random.Random(7)
    text = ["".join(rng.choices("abcdefghij", k=2000)) for _ in range(20)]  # ~40 KB
    path = _write(tmp_path, "documents", {"doc_id": list(range(20)), "text": text})
    df, _ = _load_jobs(spark, tmp_path, "documents")
    assert not _resolved[path].fan_out and "RoundRobinPartitioning" not in plan(df)
    text = ["".join(rng.choices("abcdefghij", k=2000)) for _ in range(200)]  # ~400 KB
    _write(tmp_path, "documents", {"doc_id": list(range(200)), "text": text})
    df, _ = _load_jobs(spark, tmp_path, "documents")
    assert _resolved[path].fan_out and "RoundRobinPartitioning" in plan(df)
    assert df.count() == 200


def test_needs_fan_out_hadoop_fs_matches_local(spark, sf_dir):
    """The small-file fan-out heuristic reads one set of stats through the
    Hadoop FileSystem API (the same API an s3a:// or gs:// path uses): a
    plain path resolves through the default local filesystem and must give
    the same (bytes, files, mtime) and the same decision as its file:// form."""
    from syscol_spark.sources.tables import _hadoop_stats, _resolve, _resolved

    plain = f"{sf_dir}/documents.parquet"
    uri = f"file://{plain}"
    assert _hadoop_stats(spark, plain) is not None
    assert _hadoop_stats(spark, plain) == _hadoop_stats(spark, uri)
    _resolved.pop(plain, None)
    _resolved.pop(uri, None)
    assert _resolve(spark, uri).fan_out == _resolve(spark, plain).fan_out
    # a directory with hidden/_SUCCESS-style entries counts visible bytes only
    assert _hadoop_stats(spark, sf_dir) == _hadoop_stats(spark, f"file://{sf_dir}")


def test_needs_fan_out_missing_path_is_false(spark):
    from syscol_spark.sources.tables import _resolve

    assert _resolve(spark, "/no/such/file.parquet") is None
    assert _resolve(spark, "file:///no/such/file.parquet") is None
