"""Wire-format parity tests (SURVEY.md §1.4): envelope JSON and
Confluent-framed Avro, byte-level against the reference layout."""

from __future__ import annotations

import json
import struct

import pyspark.sql.functions as F
import pytest

from syscol_spark.config import CollectorConfig, parse_producer_properties
from syscol_spark.functions.confluent import (
    MAGIC_BYTE,
    AvroCodec,
    decode_slave_metrics,
    encode_slave_metrics,
    frame_confluent,
    from_confluent_avro,
    to_confluent_avro,
    unframe_confluent,
    zigzag_decode,
    zigzag_encode,
)
from syscol_spark.functions.envelope import (
    ENVELOPE_SCHEMA,
    enrich_envelope,
    envelope_to_json,
    parse_envelope_json,
)


def test_zigzag_golden_values():
    # golden values straight from the Avro spec's binary-encoding table
    assert zigzag_encode(0) == b"\x00"
    assert zigzag_encode(-1) == b"\x01"
    assert zigzag_encode(1) == b"\x02"
    assert zigzag_encode(-2) == b"\x03"
    assert zigzag_encode(2) == b"\x04"
    assert zigzag_encode(-64) == b"\x7f"
    assert zigzag_encode(64) == b"\x80\x01"
    for n in (0, 1, -1, 5051, -5051, 2**40, -(2**40), 1704067798778549829):
        buf = zigzag_encode(n)
        val, pos = zigzag_decode(buf, 0)
        assert (val, pos) == (n, len(buf))


def test_avro_body_layout():
    metrics = json.dumps({"slave/cpus_total": 4.0}, separators=(",", ":")).encode()
    body = encode_slave_metrics("S7", "node-1", 5051, "", 123456789, metrics)
    # field order per avsc: slave_id, hostname, port, namespace, timestamp, metrics
    assert body.startswith(zigzag_encode(2) + b"S7" + zigzag_encode(6) + b"node-1")
    decoded = decode_slave_metrics(body)
    # keys = the exact reference schema field names (avro/slave_metrics.avsc)
    assert decoded == {
        "SlaveID": "S7",
        "Hostname": "node-1",
        "Port": 5051,
        "Namespace": "",
        "Timestamp": 123456789,
        "Metrics": metrics,
    }


def test_envelope_schema_matches_reference_exactly():
    from syscol_spark.functions.confluent import SLAVE_METRICS_AVSC

    assert SLAVE_METRICS_AVSC["namespace"] == "avro"
    assert SLAVE_METRICS_AVSC["name"] == "SlaveMetrics"
    assert [f["name"] for f in SLAVE_METRICS_AVSC["fields"]] == [
        "SlaveID", "Hostname", "Port", "Namespace", "Timestamp", "Metrics",
    ]
    assert [f["type"] for f in SLAVE_METRICS_AVSC["fields"]] == [
        "string", "string", "int", "string", "long", "bytes",
    ]


PAGE_VIEW_AVSC = {
    "type": "record",
    "name": "PageView",
    "fields": [
        {"name": "url", "type": "string"},
        {"name": "user_id", "type": "long"},
        {"name": "duration_s", "type": "double"},
        {"name": "score", "type": "float"},
        {"name": "bounced", "type": "boolean"},
        {"name": "referrer", "type": ["null", "string"]},
        {"name": "payload", "type": "bytes"},
    ],
}

PAGE_VIEW = {
    "url": "https://example.com/a?b=c",
    "user_id": 2**40 + 7,
    "duration_s": 12.375,
    "score": 0.5,
    "bounced": True,
    "referrer": None,
    "payload": b"\x00\x01\xfe\xff",
}


def test_flat_codec_second_schema_round_trip():
    """General read/write path beyond the fixed envelope: a second flat
    record with every primitive type + an optional union."""
    codec = AvroCodec(PAGE_VIEW_AVSC)
    body = codec.encode(PAGE_VIEW)
    assert codec.decode(body) == PAGE_VIEW
    # and with the union's non-null branch
    rec2 = dict(PAGE_VIEW, referrer="https://other.example")
    assert codec.decode(codec.encode(rec2)) == rec2
    # byte-level goldens: float/double are IEEE little-endian per Avro spec
    assert struct.pack("<d", 12.375) in body
    assert struct.pack("<f", 0.5) in body


def test_flat_record_body_golden():
    """The exact body bytes of a flat record, pinned from the former flat
    codec: every primitive, and the [null, string] union on both branches
    (branch index 0 = null, 1 = string)."""
    codec = AvroCodec(PAGE_VIEW_AVSC)
    head = (
        "3268747470733a2f2f6578616d706c652e636f6d2f613f623d63"  # url
        "8e8080808040"  # user_id 2**40 + 7
        "0000000000c02840"  # duration_s 12.375, double LE
        "0000003f"  # score 0.5, float LE
        "01"  # bounced
    )
    payload = "080001feff"
    assert codec.encode(PAGE_VIEW).hex() == head + "00" + payload
    other = dict(PAGE_VIEW, referrer="https://other.example")
    assert codec.encode(other).hex() == (
        head + "02" + "2a68747470733a2f2f6f746865722e6578616d706c65" + payload
    )


def test_avro_codec_rejects_bad_schema():
    with pytest.raises(ValueError, match="unsupported avro type"):
        AvroCodec({"type": "record", "name": "X", "fields": [{"name": "m", "type": {"type": "decimal"}}]})
    with pytest.raises(ValueError, match="unsupported avro type"):
        AvroCodec({"type": "nosuch"})
    for node in (42, None, 1.5):
        with pytest.raises(ValueError, match="bad schema node"):
            AvroCodec(node)
    with pytest.raises(ValueError, match="bad schema node"):
        AvroCodec({"type": "array", "items": 7})


def test_generic_confluent_dispatch_spark(spark):
    """Schema-id dispatch: one binary column carrying two different record
    types decodes row-by-row against the right schema; unknown ids → NULL."""
    from syscol_spark.functions.confluent import (
        SLAVE_METRICS_AVSC,
        frame_confluent,
        from_confluent_avro_generic,
    )

    pv = AvroCodec(PAGE_VIEW_AVSC)
    sm = AvroCodec(SLAVE_METRICS_AVSC)
    rows = [
        (1, frame_confluent(sm.encode({
            "SlaveID": "S1", "Hostname": "h", "Port": 1, "Namespace": "",
            "Timestamp": 7, "Metrics": b"{}"}), 1),),
        (2, frame_confluent(pv.encode({
            "url": "u", "user_id": 5, "duration_s": 1.5, "score": 2.0,
            "bounced": False, "referrer": "r", "payload": b"zz"}), 2),),
        (3, frame_confluent(b"junk-body", 99),),  # unknown id
    ]
    df = spark.createDataFrame(rows, ["n", "value"])
    out = df.select(
        "n", from_confluent_avro_generic(F.col("value"), {1: SLAVE_METRICS_AVSC, 2: PAGE_VIEW_AVSC}).alias("j")
    ).orderBy("n").collect()
    d1 = json.loads(out[0]["j"])
    assert d1["SlaveID"] == "S1" and d1["Timestamp"] == 7
    d2 = json.loads(out[1]["j"])
    assert d2["url"] == "u" and d2["bounced"] is False and d2["referrer"] == "r"
    assert d2["payload"] == "zz"
    assert out[2]["j"] is None


def test_generic_confluent_write_read_spark(spark):
    from syscol_spark.functions.confluent import from_confluent_avro_generic, to_confluent_avro_generic

    df = spark.createDataFrame([("u1", 42, 1.25, True)], ["url", "user_id", "duration_s", "bounced"])
    schema = {
        "type": "record", "name": "Visit",
        "fields": [
            {"name": "url", "type": "string"},
            {"name": "user_id", "type": "long"},
            {"name": "duration_s", "type": "double"},
            {"name": "bounced", "type": "boolean"},
        ],
    }
    framed = df.select(
        to_confluent_avro_generic(F.struct("url", "user_id", "duration_s", "bounced"), schema, 7).alias("v")
    )
    [row] = framed.select(from_confluent_avro_generic(F.col("v"), {7: schema}).alias("j")).collect()
    assert json.loads(row["j"]) == {"url": "u1", "user_id": 42, "duration_s": 1.25, "bounced": True}


def test_confluent_frame_layout():
    framed = frame_confluent(b"BODY", 42)
    # magic 0x00 + int32 BE schema id (go-kafka-avro/avro_encoder_decoder.go:62-66)
    assert framed[0:1] == MAGIC_BYTE == b"\x00"
    assert framed[1:5] == struct.pack(">I", 42) == b"\x00\x00\x00\x2a"
    assert framed[5:] == b"BODY"
    assert unframe_confluent(framed) == (42, b"BODY")


def test_envelope_json_round_trip(spark):
    df = spark.createDataFrame(
        [("S1", "h1", 5051, "ns", 1704067798778549829, {"m/a": 1.5, "m/b": 2.0})],
        ENVELOPE_SCHEMA,
    )
    env = enrich_envelope(
        F.col("Metrics"), slave_id=F.col("SlaveID"), hostname=F.col("Hostname"),
        port=F.col("Port"), namespace=F.col("Namespace"), timestamp_ns=F.col("Timestamp"),
    )
    j = df.select(envelope_to_json(env).alias("value"))
    [row] = j.collect()
    parsed = json.loads(row["value"])
    assert parsed["SlaveID"] == "S1"
    assert parsed["Timestamp"] == 1704067798778549829  # ns fidelity preserved
    assert parsed["Metrics"] == {"m/a": 1.5, "m/b": 2.0}
    [back] = j.select(parse_envelope_json(F.col("value")).alias("e")).select("e.*").collect()
    assert back["SlaveID"] == "S1" and back["Metrics"]["m/a"] == 1.5


def test_confluent_avro_spark_round_trip(spark):
    df = spark.createDataFrame(
        [("S1", "h1", 5051, "", 1704067798778549829, {"m": 1.5})], ENVELOPE_SCHEMA
    )
    env = enrich_envelope(
        F.col("Metrics"), slave_id=F.col("SlaveID"), hostname=F.col("Hostname"),
        port=F.col("Port"), namespace=F.col("Namespace"), timestamp_ns=F.col("Timestamp"),
    )
    framed = df.select(to_confluent_avro(env, schema_id=1).alias("value"))
    [row] = framed.collect()
    assert bytes(row["value"])[0:5] == b"\x00\x00\x00\x00\x01"  # pinned id=1
    back = framed.select(
        F.from_json(from_confluent_avro(F.col("value")), ENVELOPE_SCHEMA).alias("e")
    ).select("e.*")
    [b] = back.collect()
    assert b["SlaveID"] == "S1"
    assert b["Timestamp"] == 1704067798778549829
    assert b["Metrics"] == {"m": 1.5}


def test_confluent_avro_spark_frame_golden(spark):
    """The full framed value to_confluent_avro emits for one fixed
    envelope, byte for byte."""
    df = spark.createDataFrame(
        [("S1", "h1", 5051, "ns", 1704067798778549829, {"m/a": 1.5, "m/b": -2.0})], ENVELOPE_SCHEMA
    )
    env = enrich_envelope(
        F.col("Metrics"), slave_id=F.col("SlaveID"), hostname=F.col("Hostname"),
        port=F.col("Port"), namespace=F.col("Namespace"), timestamp_ns=F.col("Timestamp"),
    )
    [row] = df.select(to_confluent_avro(env, schema_id=7).alias("v")).collect()
    assert bytes(row["v"]).hex() == (
        "0000000007"  # magic + BE schema id 7
        "04" "5331"  # SlaveID "S1"
        "04" "6831"  # Hostname "h1"
        "f64e"  # Port 5051
        "04" "6e73"  # Namespace "ns"
        "8ad984b6cda888a62f"  # Timestamp, zigzag varint
        "2c" + b'{"m/b":-2.0,"m/a":1.5}'.hex()  # Metrics: JSON bytes
    )


def test_config_gates(tmp_path):
    c = CollectorConfig()
    assert c.can_start()[0] is False  # no props
    props = tmp_path / "p.properties"
    props.write_text("bootstrap.servers=localhost:9092\nbatch.size=1000\n# comment\n")
    c = CollectorConfig(producer_properties=str(props), topic="metrics")
    assert c.can_start() == (True, "")
    c2 = CollectorConfig(producer_properties=str(props), topic="t", transform="avro")
    assert c2.can_start()[0] is False  # avro needs registry url
    assert parse_producer_properties(str(props)) == {
        "bootstrap.servers": "localhost:9092",
        "batch.size": "1000",
    }
    rt = CollectorConfig.from_json(c.to_json())
    assert rt == c
