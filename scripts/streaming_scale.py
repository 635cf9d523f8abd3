"""Bounded-state evidence for a streaming twin at the 10x (sf1) scale.

The batch catalog has four-scale parity evidence; the streaming twins had
functional tests only (sf0.1 fixtures, kill/restart replay). This runs the
count-min-sketch maintenance twin (streaming/analytics.py::streaming_cms —
the continuous build of q_cms_shards) over the ENTIRE sf1 events table
(1M events, 8 parquet part files -> 8 micro-batches via
maxFilesPerTrigger=1) and records, per micro-batch, the state-store row
count and memory from StreamingQueryProgress. The claim under test is the
sketch's textbook property: streaming_cms is a native streaming
``groupBy(depth, bucket).count()``, so its state is Spark's aggregation
buffer, one row per (depth, bucket) CELL — depth*width = 768 rows MAX
regardless of how many events or distinct keys flow through. A
watermark-free stateful operator whose state grew with input would show a
rising numRowsTotal here; the artifact pins it flat.

Writes the ``cms_sf1`` probe of STREAM_SCALE.json and exits non-zero if
state ever exceeds the 768-cell bound or the folded sketch total drifts
from events*depth (count-min linearity).

Run ALONE (bench discipline):
    python scripts/streaming_scale.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from syscol_spark.session import get_session  # noqa: E402
from syscol_spark.streaming.analytics import streaming_cms  # noqa: E402

SF1_EVENTS = os.path.join(REPO, ".localdata", "sf1", "events.parquet")
CELL_BOUND = 3 * 256  # seeds x width of the registered config
STREAM_SCALE = os.path.join(REPO, "STREAM_SCALE.json")


def write_probe(name: str, entry: dict, path: str = STREAM_SCALE) -> None:
    """Set ``probes.<name>`` of the JSON file at ``path`` to ``entry`` and
    keep every other probe in it (a missing file starts empty): each scale
    script writes its own entry through this merge."""
    try:
        with open(path) as fh:
            doc = json.load(fh)
    except FileNotFoundError:
        doc = {}
    doc.setdefault("probes", {})[name] = entry
    with open(path, "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
        fh.write("\n")


def main() -> int:
    spark = get_session("streaming_scale")
    ckpt = tempfile.mkdtemp(prefix="stream_scale_ckpt_")
    t0 = time.time()
    stream = (
        spark.readStream.schema("event_id long, user_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{SF1_EVENTS}/part-*.parquet")
    )
    q = (
        streaming_cms(stream)
        .writeStream.format("memory")
        .queryName("cms_sf1")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(900)
        progress = [json.loads(p.json) for p in q.recentProgress]
    finally:
        q.stop()

    batches = []
    for p in progress:
        ops = p.get("stateOperators") or []
        if not ops:
            continue
        batches.append(
            {
                "batch_id": p["batchId"],
                "input_rows": p["numInputRows"],
                "state_rows_total": ops[0]["numRowsTotal"],
                "state_memory_bytes": ops[0]["memoryUsedBytes"],
                "batch_duration_ms": p["batchDuration"],
            }
        )
    wall = round(time.time() - t0, 1)

    # linearity check: folded cell counts must sum to n_events * depth
    final = (
        spark.sql("SELECT depth, bucket, max(cell_cnt) AS c FROM cms_sf1 GROUP BY 1, 2")
        .agg(F.sum("c").alias("s"), F.count("*").alias("cells"))
        .collect()[0]
    )
    n_events = spark.read.parquet(SF1_EVENTS).count()
    shutil.rmtree(ckpt, ignore_errors=True)

    max_state = max(b["state_rows_total"] for b in batches) if batches else -1
    first_full = next(
        (b["state_rows_total"] for b in batches if b["state_rows_total"] == max_state),
        -1,
    )
    out = {
        "metric": "streaming_cms_state_bound_sf1",
        "sf_dir": SF1_EVENTS,
        "n_events": n_events,
        "n_batches": len(batches),
        "events_per_sec": round(n_events / wall, 0),
        "wall_s": wall,
        "cell_bound": CELL_BOUND,
        "max_state_rows": max_state,
        "state_flat": all(b["state_rows_total"] <= CELL_BOUND for b in batches),
        "linearity_ok": int(final["s"]) == n_events * 3 and int(final["cells"]) <= CELL_BOUND,
        "sketch_cell_sum": int(final["s"]),
        "batches": batches,
        "note": (
            "state_rows_total saturates at the cell count (<= depth*width ="
            " 768) within the first batches and stays flat for the rest of"
            " the 1M-event run — state is O(sketch), not O(events) or"
            " O(distinct keys). first-saturation value: " + str(first_full)
        ),
    }
    write_probe("cms_sf1", out)
    print(json.dumps({k: v for k, v in out.items() if k != "batches"}))
    return 0 if out["state_flat"] and out["linearity_ok"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
