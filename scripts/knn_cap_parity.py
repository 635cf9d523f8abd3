"""Hash-level proof of the ENGAGED knn bucket cap against its real oracle.

The bucket cap (operators/similarity.py KNN_BUCKET_CAP=2048) is inert at
every driver-checked parity scale — the largest measured bucket through sf1
is 1431 — so the oracle's capped branch (plans/northstar.py `sized`/`cand`
dual-window leg) had never executed under a green value-level check; a
window-rule bug on either side would only surface at sf10, where no oracle
runs. This script closes that gap: it LOWERS the shared cap constants
before the catalog registers its SQL (the oracle CTE reads
_sim.KNN_BUCKET_CAP / KNN_CAP_WINDOW at registration time, so both sides
keep one definition), runs the engine with the same explicit cap, verifies
the cap actually engaged (oversized buckets exist), and value-compares the
full q_knn_graph output engine-vs-DuckDB with the driver's normalize rules
at sf0.01 and sf0.1, once per placement of the candidate kernel: on the
driver (the routed build) and on the executors (``knn_pairs`` forced to
the distributed twin).

Writes KNN_CAP_PARITY.json at the repo root.

Usage: python scripts/knn_cap_parity.py
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import syscol_spark.operators.similarity as sim  # noqa: E402

CAP, WIN = 8, 3
# MUST precede the catalog import: the oracle SQL bakes these at
# registration time, and this is exactly the one-definition-point contract
# the production constants use.
sim.KNN_BUCKET_CAP = CAP
sim.KNN_CAP_WINDOW = WIN

from parity import duck_connection, normalize, values_equal  # noqa: E402

from syscol_spark.plans.catalog import QUERIES, _ensure_loaded  # noqa: E402
from syscol_spark.session import get_session  # noqa: E402

SCALES = {
    "sf0.01": "/root/testdata/sf0.01",
    "sf0.1": "/root/testdata/sf0.1",
}


def bucket_stats(spark, sf_dir: str) -> dict:
    """Max/oversized bucket counts at the auto band width — proves the
    lowered cap ENGAGES (a green compare on all-small buckets would prove
    nothing about the capped branch)."""
    import numpy as np
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"), columns=["embedding"]
    )
    mat = np.asarray(
        tbl.column("embedding").combine_chunks().flatten(), dtype="float64"
    ).reshape(-1, 64)
    n = mat.shape[0]
    nb = sim.auto_band_bits(n)
    keys = sim._band_keys_local(mat, 64, 8, nb, 42)
    sizes = {}
    for band in range(8):
        uniq, cnt = np.unique(keys[:, band], return_counts=True)
        for k, c in zip(uniq, cnt):
            sizes[(band, int(k))] = int(c)
    over = [c for c in sizes.values() if c > CAP]
    return {
        "n_vectors": n,
        "band_bits_auto": nb,
        "n_buckets": len(sizes),
        "max_bucket": max(sizes.values()),
        "n_oversized_buckets": len(over),
        "postings_in_oversized": sum(over),
    }


def run_scale(spark, sf_dir: str) -> dict:
    from syscol_spark.operators import route
    from syscol_spark.operators.similarity import knn_graph

    stats = bucket_stats(spark, sf_dir)
    assert stats["n_oversized_buckets"] > 0, (
        f"cap {CAP} did not engage at {sf_dir}: {stats}"
    )
    t0 = time.time()
    con = duck_connection(sf_dir)
    rel = con.sql(QUERIES["q_knn_graph"].oracle)
    ocols = [c.lower() for c in rel.columns]
    orows = rel.fetchall()
    out = {**stats, "duck_seconds": round(time.time() - t0, 2)}

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    bound = route.BOUNDS["knn_pairs"]
    for placement, b in (("driver", bound), ("executors", -1)):
        route.BOUNDS["knn_pairs"] = b
        t0 = time.time()
        # the registered builder's defaults bound to the production constants
        # at def time, so mirror its call with the lowered cap made explicit
        sdf = knn_graph(
            emb, k=3, dim=64, n_bands=8, band_bits="auto",
            bucket_cap=CAP, cap_window=WIN,
        )
        scols = [c.lower() for c in sdf.columns]
        srows = [tuple(r) for r in sdf.collect()]
        spark_s = time.time() - t0
        local = sdf._jdf.queryExecution().executedPlan().nodeName() == "LocalTableScan"  # noqa: SLF001
        assert local == (placement == "driver"), (placement, local)

        assert sorted(scols) == sorted(ocols), (scols, ocols)
        sn, on = normalize(srows, scols), normalize(orows, ocols)
        assert len(sn) == len(on), f"{placement}: rowcount spark={len(sn)} oracle={len(on)}"
        for i, (sr, orow) in enumerate(zip(sn, on)):
            assert all(values_equal(x, y) for x, y in zip(sr, orow)), (
                f"{placement}: value mismatch at row {i}: spark={sr} oracle={orow}"
            )
        out[placement] = {"rows": len(sn), "spark_seconds": round(spark_s, 2), "status": "match"}
    route.BOUNDS["knn_pairs"] = bound
    return out


def main() -> None:
    _ensure_loaded()
    assert f"a.bsz <= {CAP} " in QUERIES["q_knn_graph"].oracle and (
        f"BETWEEN 1 AND {WIN}" in QUERIES["q_knn_graph"].oracle
    ), "oracle SQL did not pick up the lowered cap/window"
    spark = get_session("knn_cap_parity")
    out = {
        "bucket_cap": CAP,
        "cap_window": WIN,
        "git_sha": os.popen(f"git -C {REPO} rev-parse --short HEAD").read().strip(),
        "scales": {},
    }
    for name, d in SCALES.items():
        out["scales"][name] = run_scale(spark, d)
        print(name, json.dumps(out["scales"][name]))
    with open(os.path.join(REPO, "KNN_CAP_PARITY.json"), "w") as f:
        json.dump(out, f, indent=1)
    print("wrote KNN_CAP_PARITY.json")


if __name__ == "__main__":
    main()
