"""Avro schema resolution (reader vs writer evolution) — the registry-
consumer path: data written with an older schema read through a newer one.
Spec: Avro 1.11 "Schema Resolution" (public). The reference's vendored
decoder has no resolution layer; this is a documented superset."""

from __future__ import annotations

import pytest

from syscol_spark.functions.confluent import (
    AvroCodec,
    AvroResolver,
    AvroSchemaResolutionError,
    decode_resolved,
)

WRITER = {
    "type": "record",
    "name": "Env",
    "fields": [
        {"name": "host", "type": "string"},
        {"name": "port", "type": "int"},
        {"name": "metrics", "type": {"type": "map", "values": "double"}},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "status", "type": {"type": "enum", "name": "St", "symbols": ["OK", "DEAD"]}},
        {"name": "note", "type": ["null", "string"]},
    ],
}

READER = {
    "type": "record",
    "name": "Env",
    "fields": [
        {"name": "host", "type": "string"},
        {"name": "port", "type": "long"},                      # int -> long promotion
        {"name": "metrics", "type": {"type": "map", "values": "double"}},
        # "tags" dropped by the reader
        {"name": "status", "type": {"type": "enum", "name": "St",
                                    "symbols": ["OK", "RETIRED"], "default": "RETIRED"}},
        {"name": "note", "type": ["null", "string"]},
        {"name": "region", "type": "string", "default": "unknown"},   # added with default
        {"name": "weight", "type": "double", "default": 1.0},
    ],
}

RECORD = {
    "host": "h1",
    "port": 5051,
    "metrics": {"cpu": 0.5},
    "tags": ["a", "b"],
    "status": "DEAD",
    "note": None,
}


def test_full_evolution_round_trip():
    body = AvroCodec(WRITER).encode(RECORD)
    got = decode_resolved(body, WRITER, READER)
    assert got == {
        "host": "h1",
        "port": 5051,
        "metrics": {"cpu": 0.5},
        "status": "RETIRED",        # unknown to reader -> enum default
        "note": None,
        "region": "unknown",        # reader-only -> field default
        "weight": 1.0,
    }


def test_numeric_and_bytes_promotions():
    r = AvroResolver("int", "double")
    assert r.project(5) == 5.0 and isinstance(r.project(5), float)
    assert AvroResolver("string", "bytes").project("hi") == b"hi"
    assert AvroResolver("bytes", "string").project(b"hi") == "hi"
    with pytest.raises(AvroSchemaResolutionError):
        AvroResolver("double", "int").project(1.5)


def test_reader_union_accepts_writer_nonunion():
    assert AvroResolver("int", ["null", "long"]).project(7) == 7


def test_writer_union_branch_resolves():
    r = AvroResolver(["null", "int"], "double")
    assert r.project(3) == 3.0
    assert AvroResolver(["null", "int"], ["null", "double"]).project(None) is None


def test_missing_field_without_default_raises():
    reader = {
        "type": "record", "name": "Env",
        "fields": [{"name": "absent", "type": "string"}],
    }
    with pytest.raises(AvroSchemaResolutionError):
        AvroResolver(WRITER, reader).project(RECORD)


def test_nested_record_evolution():
    w = {"type": "record", "name": "O", "fields": [
        {"name": "inner", "type": {"type": "record", "name": "I", "fields": [
            {"name": "x", "type": "int"}]}}]}
    r = {"type": "record", "name": "O", "fields": [
        {"name": "inner", "type": {"type": "record", "name": "I", "fields": [
            {"name": "x", "type": "long"},
            {"name": "y", "type": "string", "default": "d"}]}}]}
    assert AvroResolver(w, r).project({"inner": {"x": 1}}) == {"inner": {"x": 1, "y": "d"}}


# --- aliases (spec "Aliases": rename-with-evolution) --------------------------

def test_record_and_field_aliases_rename():
    w = {"type": "record", "name": "OldEnv", "fields": [
        {"name": "hostname", "type": "string"},
        {"name": "port", "type": "int"}]}
    r = {"type": "record", "name": "Envelope", "aliases": ["OldEnv"], "fields": [
        {"name": "host", "type": "string", "aliases": ["hostname"]},
        {"name": "port", "type": "long"}]}
    body = AvroCodec(w).encode({"hostname": "h9", "port": 1})
    assert decode_resolved(body, w, r) == {"host": "h9", "port": 1}


def test_enum_and_fixed_name_aliases():
    we = {"type": "enum", "name": "OldSt", "symbols": ["OK", "DEAD"]}
    re_ = {"type": "enum", "name": "Status", "aliases": ["OldSt"], "symbols": ["OK", "DEAD"]}
    assert AvroResolver(we, re_).project("DEAD") == "DEAD"
    wf = {"type": "fixed", "name": "OldSum", "size": 4}
    rf = {"type": "fixed", "name": "Checksum", "aliases": ["OldSum"], "size": 4}
    assert AvroResolver(wf, rf).project(b"abcd") == b"abcd"


def test_unrelated_enum_names_now_rejected():
    """Resolving two UNRELATED enums (no alias link) must fail, not silently
    succeed — the pre-round-6 resolver never compared enum names."""
    we = {"type": "enum", "name": "Color", "symbols": ["RED"]}
    re_ = {"type": "enum", "name": "Status", "symbols": ["RED"]}
    with pytest.raises(AvroSchemaResolutionError):
        AvroResolver(we, re_).project("RED")


def test_field_alias_prefers_same_name():
    """When the writer has BOTH the reader field's name and its alias, the
    same-named writer field wins (spec resolution order)."""
    w = {"type": "record", "name": "R", "fields": [
        {"name": "v", "type": "int"},
        {"name": "old_v", "type": "int"}]}
    r = {"type": "record", "name": "R", "fields": [
        {"name": "v", "type": "int", "aliases": ["old_v"]}]}
    assert AvroResolver(w, r).project({"v": 1, "old_v": 2}) == {"v": 1}


# --- union-branch fidelity (tagged decode) ------------------------------------

def test_ambiguous_string_enum_union_uses_wire_branch():
    """[string, enum]: both decode to a Python str — shape matching cannot
    tell them apart, the wire branch index can. An enum-branch value must
    resolve through ENUM rules (name check + symbol membership), not string."""
    en = {"type": "enum", "name": "St", "symbols": ["OK", "DEAD"]}
    w = {"type": "record", "name": "R", "fields": [{"name": "u", "type": ["string", en]}]}
    r_enum_renamed = {"type": "record", "name": "R", "fields": [
        {"name": "u", "type": ["int", {"type": "enum", "name": "St2", "aliases": ["St"],
                                        "symbols": ["OK", "DEAD"]}]}]}
    # the encoder's shape matching would pick the string branch for "OK",
    # so build the enum-branch wire bytes explicitly: branch 1 + symbol idx 0
    from syscol_spark.functions.confluent import zigzag_encode
    body_enum = zigzag_encode(1) + zigzag_encode(0)
    assert decode_resolved(body_enum, w["fields"][0]["type"], 
                           r_enum_renamed["fields"][0]["type"]) == "OK"
    # and a STRING-branch "OK" must NOT resolve into the enum-only reader
    body_str = zigzag_encode(0) + zigzag_encode(2) + b"OK"
    with pytest.raises(AvroSchemaResolutionError):
        decode_resolved(body_str, w["fields"][0]["type"],
                        {"type": "enum", "name": "St2", "aliases": ["St"],
                         "symbols": ["OK", "DEAD"]})


def test_reader_union_skips_non_utf8_bytes_branch():
    """bytes->string inside a reader-union branch trial: invalid UTF-8 must
    move to the next branch (previously a UnicodeDecodeError aborted)."""
    got = AvroResolver("bytes", ["string", "bytes"]).project(b"\xff\xfe")
    assert got == b"\xff\xfe"
