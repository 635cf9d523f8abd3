"""Round-15 scale re-measurement (r14 verdict ask #6).

The r14 rewrites whose wins were argued "flat at sf0.1, real at scale"
(q_substring_dedup scans 2→1, q_winnow_delta Exchange 34→12,
q_negative_sampling's broadcast semi-filter, q_inverted_delta scans 4→2)
get their 10x-step growth measured: wall(sf1)/wall(sf0.1) must sit at or
under the ~10x linear bar (plus log-factor headroom, the scale_sf1.py
criterion); a quadratic candidate generator would read ~100x.

Usage: python scripts/scale_r15.py [--json PATH]
Writes SCALE_r15.json at the repo root by default. Run ALONE (bench.py
discipline: concurrent Spark JVMs inflate walls 4-8x).
"""

from __future__ import annotations

import json
import sys
import time

import pandas as pd  # noqa: F401 - pandas_udf hints
import pyspark.sql.functions as F  # noqa: F401

sys.path.insert(0, "/root/repo")

import scripts.scale_sf1 as s1  # noqa: E402
from syscol_spark.plans.catalog import _ensure_loaded  # noqa: E402
from syscol_spark.session import get_session  # noqa: E402

FAMILIES = [
    "q_substring_dedup",
    "q_winnow_delta",
    "q_negative_sampling",
    "q_inverted_delta",
]


def _probe(spark, names: list[str], reps_base: int = 2, reps_sf1: int = 2) -> dict:
    out: dict = {}
    for name in names:
        base = s1._time_query(spark, name, s1.BASE, reps_base)
        sf1 = s1._time_query(spark, name, s1.SF1_DIR, reps_sf1)
        ratio = round(min(sf1) / max(min(base), 0.05), 2)
        out[name] = {
            "sf0.1_sec": min(base),
            "sf1_sec": min(sf1),
            "ratio_per_10x": ratio,
            "attempts": {"base": base, "sf1": sf1},
            "linear_bar_ok": ratio <= 12.0,
        }
        print(f"# {name}: sf0.1 {min(base):.2f}s sf1 {min(sf1):.2f}s ratio {ratio}x", file=sys.stderr)
    return out


def main() -> None:
    json_path = "/root/repo/SCALE_r15.json"
    if "--json" in sys.argv:
        json_path = sys.argv[sys.argv.index("--json") + 1]
    _ensure_loaded()
    spark = get_session("scale_r15")
    s1._warmup(spark)
    res: dict = {
        "generated_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "base_dir": s1.BASE,
        "sf1_dir": s1.SF1_DIR,
        "families": _probe(spark, FAMILIES),
    }
    try:
        import subprocess

        res["git_sha"] = subprocess.run(
            ["git", "rev-parse", "HEAD"], capture_output=True, text=True, cwd="/root/repo"
        ).stdout.strip()
        res["git_dirty"] = bool(
            subprocess.run(
                ["git", "status", "--porcelain"], capture_output=True, text=True, cwd="/root/repo"
            ).stdout.strip()
        )
    except Exception:  # noqa: BLE001
        pass
    with open(json_path, "w") as fh:
        json.dump(res, fh, indent=1)
    print(json.dumps({k: v for k, v in res.items() if k != "families"} | {
        "families": {n: {"ratio_per_10x": e["ratio_per_10x"], "ok": e["linear_bar_ok"]}
                     for n, e in res["families"].items()}}))


if __name__ == "__main__":
    main()
