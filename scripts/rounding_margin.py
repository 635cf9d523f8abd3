"""Measure how close the SRP projection dots sit to a round(x, 6) boundary.

The knn_graph bucket cap orders oversized buckets by round(plane-0 dot, 6)
and round(plane-1 dot, 6) (operators/similarity.py `_srp_projections`;
SQL mirror in plans/northstar.py `proj` CTE). Engine and oracle compute the
same dot from the same exact ±x_i addends but in different summation
orders, so the two sides disagree by O(1e-13) relative — and quantization
only yields identical rank orders when no corpus dot lies within that
discrepancy of a rounding boundary (k + 0.5)·1e-6. The sign bits got this
treatment in round 11 (measured min |dot| 4.1e-5 across every banded
plane); this script closes the same loop for the two ORDERING dots.

For every embedding corpus it reports, over the band-0 plane-0 and plane-1
dots (the only dots the capped path orders by):
  - min/percentile distance to the nearest rounding boundary (absolute);
  - the modeled cross-engine discrepancy bound: |dot| · 1e-13 (float64
    summation-order reordering over dim=64 exact ±1-weighted addends — the
    same bound used for the sign-bit argument, srp_band_sql_keys docstring);
  - how many dots sit within 10× / 1× of that bound from a boundary, i.e.
    rank entries that COULD order differently engine-vs-oracle.

Unlike the sign-bit case (64 planes × corpus, min margin 4.1e-5, five
orders above the noise), boundary distances are uniform in the quantum, so
the expected MIN over N dots is ~1e-6/(2N) — at sf10's 400k dots that is
~1e-12, the same order as the noise bound. The artifact therefore records
the honest conclusion: how many rank entries are at risk, not a guarantee
of zero. Writes ROUNDING_MARGIN.json at the repo root.

Pure numpy + pyarrow (no Spark): the dots are a float64 matmul over the
engine's own planes (`_sign_planes`), as `_srp_projections` computes them
before rounding.

Usage: python scripts/rounding_margin.py
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from syscol_spark.operators.similarity import _sign_planes  # noqa: E402

DIM = 64
REL_NOISE = 1e-13  # summation-order reordering bound, srp_band_sql_keys docstring

SCALES = {
    "sf0.1": "/root/testdata/sf0.1",
    "sf1": os.path.join(REPO, ".localdata", "sf1"),
    "sf10": os.path.join(REPO, ".localdata", "sf10"),
}


def boundary_distance(dots: np.ndarray) -> np.ndarray:
    """Absolute distance of each dot to its nearest round(·, 6) boundary
    (k + 0.5)·1e-6. frac(y) for y = dot·1e6 is computed on the float64
    grid, matching what both engines' scaled comparisons actually see."""
    y = dots * 1e6
    frac = y - np.floor(y)
    return np.abs(frac - 0.5) * 1e-6


def measure(path: str) -> dict:
    tbl = pq.read_table(path, columns=["embedding"])
    col = tbl.column("embedding").combine_chunks()
    mat = np.asarray(col.flatten(), dtype="float64").reshape(-1, DIM)
    dots = mat @ _sign_planes(DIM, 2, 42).T  # (n, 2)
    dist = boundary_distance(dots)
    noise = np.abs(dots) * REL_NOISE
    at_risk_1x = int((dist <= noise).sum())
    at_risk_10x = int((dist <= 10 * noise).sum())
    return {
        "n_vectors": int(mat.shape[0]),
        "n_dots": int(dots.size),
        "min_boundary_distance": float(dist.min()),
        "p01_boundary_distance": float(np.percentile(dist, 1)),
        "median_boundary_distance": float(np.median(dist)),
        "max_noise_bound": float(noise.max()),
        "dots_within_1x_noise_of_boundary": at_risk_1x,
        "dots_within_10x_noise_of_boundary": at_risk_10x,
    }


def main() -> None:
    out = {"rel_noise_model": REL_NOISE, "scales": {}}
    for name, d in SCALES.items():
        path = os.path.join(d, "embeddings.parquet")
        if not os.path.exists(path):
            out["scales"][name] = {"skipped": "no data"}
            continue
        out["scales"][name] = measure(path)
        print(name, json.dumps(out["scales"][name]))
    risky = {
        k: v.get("dots_within_10x_noise_of_boundary")
        for k, v in out["scales"].items()
        if "n_dots" in v
    }
    out["conclusion"] = (
        "Boundary distances are uniform in the 1e-6 quantum, so unlike the "
        "sign bits (min margin 4.1e-5, 5 orders above noise) a large corpus "
        "WILL eventually place a dot near a boundary; the counts above bound "
        "how many of the capped path's rank entries could order differently "
        "engine-vs-oracle. Zero within-noise dots at a scale means the rank "
        "orders are proven identical there; nonzero means at most that many "
        "single-rank transpositions (each perturbs candidate WINDOWS by one "
        "member at worst — never the scored cosines, which share one "
        "rounding definition downstream)."
    ) if risky else "no corpus measured"
    with open(os.path.join(REPO, "ROUNDING_MARGIN.json"), "w") as f:
        json.dump(out, f, indent=1)
    print("wrote ROUNDING_MARGIN.json")


if __name__ == "__main__":
    main()
