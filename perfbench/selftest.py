"""Self-test of the benchmark: a tiny traced run of every workload, then the
same runs with an injected corruption, which the checks must count.

    python3 perfbench/selftest.py

Tiny means the catalog mix over sf0.001, and a 2-host fleet for a few
seconds followed by 2,000 replay rows. Checks that every metric
BENCHMARK.json declares is emitted with its unit (per-layer ones by the
traced clean runs, end-to-end ones by the untraced corrupted runs), that
the clean runs report no failure, and that a wrong oracle, a dropped sink
file and a flipped Avro byte each do.
Exits 0 when every check holds.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402


def main() -> int:
    if not common.program_present():
        common.log("selftest: run from the root of a syscol-spark checkout")
        return 2
    common.prepare_env()
    from perfbench import run

    tiny = {
        "catalog": {"sf_dir": os.path.join(common.testdata_dir(), "sf0.001")},
        "ingest_stream": {"hosts": 2, "replay_rows": 2_000},
    }
    corrupted = {
        "catalog": {"oracle_override": {"q01_pricing_summary": "SELECT 1 AS l_returnflag"}},
        "ingest_stream": {"drop_sink_file": True},
    }
    problems, layers_seen = [], set()
    try:
        for workload, kwargs in tiny.items():
            result = run.run(workload, seed=1, seconds=3, trace=True, **kwargs)
            bad = run.run(workload, seed=1, seconds=3, trace=False, **kwargs, **corrupted[workload])
            for trace, got in ((True, result["layers"]), (False, bad["metrics"])):
                for m in run.declared_metrics(trace):
                    if m["name"] in got and got[m["name"]][1] != m["unit"]:
                        problems.append(f"{workload}: {m['name']} in {got[m['name']][1]}, declared {m['unit']}")
                    elif m["name"] not in got and not trace:
                        problems.append(f"{workload}: end-to-end metric {m['name']} not emitted")
            layers_seen.update(result["layers"])
            if result["failed"]:
                problems.append(f"{workload}: clean run reported {result['failed']} failures")
            if bad["failed"] == 0:
                problems.append(f"{workload}: injected corruption was not counted")
            print(f"{workload}: clean failed={result['failed']}, corrupted failed={bad['failed']}", flush=True)
        flipped = run.run("ingest_stream", seed=1, seconds=3, trace=True, **tiny["ingest_stream"], corrupt_frame=True)
        if flipped["failed"] == 0:
            problems.append("ingest_stream: a flipped Avro byte in the replay was not counted")
        print(f"ingest_stream: flipped Avro byte failed={flipped['failed']}", flush=True)
    finally:
        common.shutdown_spark()
        common.cleanup()
    problems += [f"per-layer metric {m['name']} emitted by no workload"
                 for m in run.declared_metrics(True) if m["name"] not in layers_seen]
    for p in problems:
        print("FAIL", p)
    print("selftest:", "FAIL" if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
