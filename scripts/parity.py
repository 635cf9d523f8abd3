"""Dev-loop oracle parity checker — mirrors the driver's compare.

Runs every catalog query on Spark and its DuckDB oracle on the same parquet,
sorts columns by name, sorts rows, and compares values (exact for
ints/strings, tiny epsilon for floats to absorb rounding-boundary noise the
driver's hash would also see — treat any eps hit as a red flag).

Usage: python scripts/parity.py [sf_dir] [query ...] [--json PATH]

``--json PATH`` additionally writes a machine-readable per-query artifact
{name: {status, seconds, rows}} stamped with the git SHA and UTC time —
committed as PARITY_RUN.json each round so every catalog query has an
auditable fresh green independent of the driver's 50 CORRECTNESS slots.
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb  # noqa: E402

from syscol_spark.plans.catalog import QUERIES, _ensure_loaded  # noqa: E402
from syscol_spark.session import get_session  # noqa: E402
from syscol_spark.sources.tables import TABLE_NAMES  # noqa: E402


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLE_NAMES:
        path = f"{sf_dir}/{name}.parquet"
        if os.path.isdir(path):  # Spark-written table: a dir of part files
            path = f"{path}/*.parquet"
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def normalize(rows: list[tuple], cols: list[str]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 9)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


def values_equal(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return a == b or abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return a == b


def main() -> int:
    argv = list(sys.argv[1:])
    json_path = None
    if "--json" in argv:
        i = argv.index("--json")
        json_path = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv and "/" in argv[0] else "/root/testdata/sf0.001"
    only = [a for a in argv if "/" not in a]
    _ensure_loaded()
    spark = get_session("parity")
    con = duck_connection(sf_dir)
    failures = 0
    results: dict[str, dict] = {}

    def record(name: str, status: str, t0: float, rows: int = -1) -> None:
        results[name] = {
            "status": status,
            "seconds": round(time.time() - t0, 2),
            "rows": rows,
        }

    for name, spec in QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = spec.builder(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: SPARK ERROR {type(e).__name__}: {str(e)[:300]}")
            record(name, f"spark_error: {type(e).__name__}", t0)
            failures += 1
            continue
        if spec.oracle is None:
            print(f"ok*   {name}: rows-only, {len(srows)} rows ({time.time()-t0:.1f}s)")
            record(name, "rows_only", t0, len(srows))
            continue
        try:
            rel = con.sql(spec.oracle)
            ocols = [c.lower() for c in rel.columns]
            orows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: ORACLE ERROR {type(e).__name__}: {str(e)[:300]}")
            record(name, f"oracle_error: {type(e).__name__}", t0)
            failures += 1
            continue
        scols_l = [c.lower() for c in scols]
        if sorted(scols_l) != sorted(ocols):
            print(f"FAIL  {name}: column mismatch spark={sorted(scols_l)} oracle={sorted(ocols)}")
            record(name, "column_mismatch", t0)
            failures += 1
            continue
        sn = normalize(srows, scols_l)
        on = normalize(orows, ocols)
        if len(sn) != len(on):
            print(f"FAIL  {name}: row count spark={len(sn)} oracle={len(on)}")
            record(name, "rowcount_mismatch", t0)
            failures += 1
            continue
        bad = None
        for i, (sr, orow) in enumerate(zip(sn, on)):
            if not all(values_equal(x, y) for x, y in zip(sr, orow)):
                bad = (i, sr, orow)
                break
        if bad:
            print(f"FAIL  {name}: value mismatch at row {bad[0]}\n  spark : {bad[1]}\n  oracle: {bad[2]}")
            record(name, "value_mismatch", t0)
            failures += 1
        else:
            print(f"ok    {name}: {len(sn)} rows match ({time.time()-t0:.1f}s)")
            record(name, "match", t0, len(sn))
    print(f"\n{'FAILURES: ' + str(failures) if failures else 'ALL GREEN'}")
    if json_path:
        _write_artifact(json_path, sf_dir, results, failures)
    return 1 if failures else 0


def _write_artifact(path: str, sf_dir: str, results: dict, failures: int) -> None:
    import datetime
    import json
    import subprocess

    sha = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "HEAD"],
        capture_output=True, text=True,
    ).stdout.strip()
    # "dirty" means CODE drift vs the recorded sha; a sibling parity
    # artifact written minutes earlier in the same batch is not drift
    # (r15: the sf0.1 run recorded dirty=true solely because the sf0.01
    # artifact it was batched with was not yet committed).
    status = subprocess.run(
        ["git", "-C", ROOT, "status", "--porcelain"],
        capture_output=True, text=True,
    ).stdout.strip()
    dirty = bool([
        ln for ln in status.splitlines()
        if not ln.rsplit(" ", 1)[-1].startswith("PARITY_RUN")
    ])
    artifact = {
        "sf_dir": sf_dir,
        "git_sha": sha,
        "git_dirty": dirty,
        "utc": datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="seconds"),
        "n_queries": len(results),
        "n_failures": failures,
        "queries": results,
    }
    with open(path, "w") as fh:
        json.dump(artifact, fh, indent=1, sort_keys=True)
    print(f"wrote {path}")


if __name__ == "__main__":
    raise SystemExit(main())
