"""STREAM_SCALE.json holds one probe per streaming scale script; each
script writes its own entry through one merge, so re-running one keeps the
other's."""

from __future__ import annotations

import json

import pytest

from scripts.streaming_scale import write_probe


@pytest.mark.parametrize("first", ["cms_sf1", "capped_sessions_sf1"])
def test_write_probe_keeps_the_other_entry(tmp_path, first):
    path = str(tmp_path / "STREAM_SCALE.json")
    entries = {"cms_sf1": {"max_state_rows": 768}, "capped_sessions_sf1": {"events_accounted": 10}}
    second = next(name for name in entries if name != first)
    write_probe(first, entries[first], path)
    write_probe(second, entries[second], path)
    with open(path) as fh:
        assert json.load(fh) == {"probes": entries}
    write_probe(first, {"rerun": True}, path)
    with open(path) as fh:
        assert json.load(fh)["probes"] == {first: {"rerun": True}, second: entries[second]}
