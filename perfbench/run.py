"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Prints one line per metric (name, value,
unit), then, as the last line, one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics of BENCHMARK.json, ``--trace 1`` its per-layer metrics
(a metric of a layer the workload does not use reads 0).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402

WORKLOADS = ("catalog", "ingest_stream")


def run(workload: str, seed: int, seconds: float, trace: bool, **kwargs) -> dict:
    if workload == "catalog":
        from perfbench.catalog import run_catalog

        return run_catalog(seed, seconds, trace, **kwargs)
    from perfbench.ingest import run_stream

    return run_stream(seed, seconds, trace, **kwargs)


def declared_metrics(trace: bool) -> list[dict]:
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return spec["per_layer" if trace else "end_to_end"]


def report(result: dict, trace: bool) -> dict:
    got = result["layers"] if trace else result["metrics"]
    metrics = {}
    for m in declared_metrics(trace):
        if not trace and m["name"] not in got:
            raise KeyError(f"end-to-end metric {m['name']} was not measured")
        value, unit = got.get(m["name"], (0, m["unit"]))
        if unit != m["unit"]:
            raise ValueError(f"{m['name']}: measured in {unit}, declared in {m['unit']}")
        metrics[m["name"]] = {"value": value, "unit": unit}
    for name, m in metrics.items():
        print(f"{name} = {m['value']} {m['unit']}")
    return {
        "correct": result["failed"] == 0,
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": metrics,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not common.program_present() or not os.path.isdir(common.testdata_dir()):
        common.log("perfbench: run from the root of a syscol-spark checkout with the test data present")
        return 2
    common.prepare_env()
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        common.shutdown_spark()
        common.cleanup()
    print(json.dumps(report(result, bool(args.trace))), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
