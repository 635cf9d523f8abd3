"""Measure knn_graph's recall@3 against exact brute-force ground truth.

The r12 SRP bucket-size cap (operators/similarity.py: oversized buckets
pair each member with only its KNN_CAP_WINDOW forward id-neighbors) is
bit-identical to the uncapped build at every parity scale through sf1
(largest bucket 1431 < 2048), but at sf10 it engages — and its recall
cost there was argued (near-dup mates are interchangeable), not measured.
This measures it: sample ~1k vectors deterministically, compute their
EXACT top-3 by distributed brute force (batch GEMM per Arrow batch, global
re-rank), and report what fraction of the graph's edges reach exact-top-3
quality at BOTH sf1 (cap inert — the algorithm's intrinsic SRP recall) and
sf10 (cap engaged). The sf10-vs-sf1 delta isolates the cap's cost from the
SRP approximation itself.

A graph edge counts as a hit when its cosine >= the query's 3rd-best exact
cosine - 1e-9 (threshold recall: tie-safe on near-dup corpora where many
mates share the top cosine). recall@3 = hits / (3 * n_sampled).

Run ALONE (bench discipline):
    python scripts/knn_recall.py
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from syscol_spark.operators.similarity import (  # noqa: E402
    _band_keys_local,
    auto_band_bits,
    knn_graph,
)
from syscol_spark.session import get_session  # noqa: E402

K = 3
EPS = 1e-9
TARGET_SAMPLE = 1000
# Floor on sf10 near-dup DETECTION recall: of the sampled queries that
# provably have a >=0.9-cosine neighbor (their exact 3rd is one), the
# fraction for which the capped graph surfaces at least one >=0.9 mate —
# the question SemDeDup consumers actually ask, and the precise form of
# the cap's "interchangeable mates" design argument. The floor is set
# below the dual-projection window-128 default's measured 0.7045 (86% of
# the 0.8182 SRP banding ceiling — the best ANY window policy could do);
# the measured curve lives in similarity.py next to KNN_CAP_WINDOW.
# Exact-identity recall@3 is also reported per cosine stratum for honesty. SRP
# band collision probability falls off steeply with angle: at 11 bits/band
# x 8 bands (the sf10 auto width) a cos=0.5 exact neighbor collides in >=1
# band ~9% of the time while a cos=0.99 near-dup collides ~99.9% — so
# OVERALL exact-top-3 recall is low by design (moderate-cosine neighbors
# are the serving tier's job: srp_topk/ivf_topk/ivfadc score full
# candidate lists per query). The floor therefore binds where the graph's
# consumers (semantic dedup, near-dup clustering) read it.
FLOOR = 0.65
STRATA = ((0.95, "t>=0.95"), (0.90, "0.90<=t<0.95"), (0.70, "0.70<=t<0.90"), (-2.0, "t<0.70"))

SCALES = {
    "sf1": os.path.join(REPO, ".localdata", "sf1"),
    "sf10": os.path.join(REPO, ".localdata", "sf10"),
}


def _exact_top3(spark, emb, sample_pdf):
    """Exact top-K cosine neighbors of the sampled queries over the WHOLE
    corpus: one GEMM per Arrow batch emits the batch-local top-(K+1) per
    query (+1 survives self-exclusion), a window re-ranks globally."""
    qids = sample_pdf["vec_id"].to_numpy()
    qmat = np.stack(sample_pdf["embedding"].to_numpy()).astype("float64")
    qnorm = np.sqrt(np.einsum("ij,ij->i", qmat, qmat))

    def part(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["vec_id"].to_numpy()
            mat = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            norms = np.sqrt(np.einsum("ij,ij->i", mat, mat))
            cos = (mat @ qmat.T) / (norms[:, None] * qnorm[None, :])
            kk = min(K + 1, cos.shape[0])
            idx = np.argpartition(-cos, kth=kk - 1, axis=0)[:kk]
            qcol = np.repeat(qids, kk)
            ncol = ids[idx.T.ravel()]
            ccol = np.take_along_axis(cos, idx, axis=0).T.ravel()
            yield pd.DataFrame({"qid": qcol, "nbr": ncol, "cosine": ccol})

    cand = emb.select("vec_id", "embedding").mapInPandas(
        part, "qid bigint, nbr bigint, cosine double"
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nbr"))
    return (
        cand.filter(F.col("qid") != F.col("nbr"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= K)
    )


def _srp_ceiling(spark, emb, exact_rows, thirds, n: int) -> dict:
    """Of the near-dup queries (exact 3rd cosine >= 0.9), how many have at
    least one >=0.9 exact mate sharing >=1 SRP band bucket with them — the
    BEST any window/cap policy could detect. Driver-side numpy on the few
    hundred involved vectors (same planes, same auto band width)."""
    nd_pairs = [
        (int(r["qid"]), int(r["nbr"]))
        for r in exact_rows
        if thirds.get(int(r["qid"]), -2.0) >= 0.90 and float(r["cosine"]) >= 0.90 - EPS
    ]
    if not nd_pairs:
        return {"n_queries": 0, "ceiling_recall": None}
    ids = sorted({i for p in nd_pairs for i in p})
    pdf = (
        emb.filter(F.col("vec_id").isin(ids)).select("vec_id", "embedding").toPandas()
    )
    mat = np.stack(pdf["embedding"].to_numpy()).astype("float64")
    idx = {int(v): i for i, v in enumerate(pdf["vec_id"])}
    keys = _band_keys_local(mat, 64, 8, auto_band_bits(n), 42)
    can = {}
    for qid, nbr in nd_pairs:
        shared = bool((keys[idx[qid]] == keys[idx[nbr]]).any())
        can[qid] = can.get(qid, False) or shared
    return {
        "n_queries": len(can),
        "n_with_bucket_shared_mate": sum(can.values()),
        "ceiling_recall": round(sum(can.values()) / len(can), 4),
    }


def _measure(spark, sf_dir: str) -> dict:
    t0 = time.time()
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    n = emb.count()
    stride = max(1, n // TARGET_SAMPLE)
    sample_pdf = (
        emb.filter(F.pmod(F.xxhash64("vec_id"), F.lit(stride)) == 0)
        .select("vec_id", "embedding")
        .toPandas()
    )
    qid_list = [int(x) for x in sample_pdf["vec_id"]]

    # one brute-force pass, collected once (<= 3*sample rows); thirds and
    # the ceiling derive from the same rows
    exact_rows = _exact_top3(spark, emb, sample_pdf).collect()
    thirds: dict[int, float] = {}
    for r in exact_rows:
        q = int(r["qid"])
        thirds[q] = min(thirds.get(q, 2.0), float(r["cosine"]))
    third = spark.createDataFrame(
        [(q, t) for q, t in thirds.items()], "qid long, third_cos double"
    )

    # SPARK_GRAFT_KNN_RECALL_WINDOW overrides cap_window for retune
    # experiments; unset = the library default under measurement
    win = os.environ.get("SPARK_GRAFT_KNN_RECALL_WINDOW")
    kw = {"cap_window": int(win)} if win else {}
    graph = knn_graph(emb, k=K, dim=64, n_bands=8, band_bits="auto", **kw)
    edges = graph.filter(F.col("src").isin(qid_list)).select(
        F.col("src").alias("qid"), "nbr", "cosine"
    )
    stats = {
        int(r["qid"]): (int(r["hits"]), float(r["best"]))
        for r in edges.join(F.broadcast(third), "qid")
        .groupBy("qid")
        .agg(
            F.sum(
                (F.col("cosine") >= F.col("third_cos") - EPS).cast("int")
            ).alias("hits"),
            F.max("cosine").alias("best"),
        )
        .collect()
    }

    n_sampled = len(qid_list)
    strata: dict[str, dict] = {}
    total_hits = 0
    det_n = det_hits = 0
    for qid in qid_list:
        t = thirds.get(qid, -2.0)
        hits, best = stats.get(qid, (0, -2.0))
        hits = min(hits, K)
        total_hits += hits
        label = next(lbl for lo, lbl in STRATA if t >= lo)
        s = strata.setdefault(label, {"n_queries": 0, "hits": 0})
        s["n_queries"] += 1
        s["hits"] += hits
        if t >= 0.90:
            # the SemDeDup question: this query provably HAS a >=0.9-cosine
            # neighbor (its exact 3rd is one) — did the graph surface ANY
            # >=0.9 mate (not necessarily the same identity)?
            det_n += 1
            det_hits += int(best >= 0.90 - EPS)
    for s in strata.values():
        s["recall_at_3"] = round(s["hits"] / (K * s["n_queries"]), 4)
    return {
        "n_vectors": n,
        "n_sampled": n_sampled,
        "recall_at_3_overall": round(total_hits / (K * n_sampled), 4),
        "recall_by_exact_third_cosine": {
            lbl: strata[lbl] for _, lbl in STRATA if lbl in strata
        },
        "neardup_detection": {
            "n_queries_with_exact_0p9_neighbor": det_n,
            "detected_any_0p9_mate": det_hits,
            "detection_recall": round(det_hits / det_n, 4) if det_n else None,
            "srp_ceiling": _srp_ceiling(spark, emb, exact_rows, thirds, n),
        },
        "wall_s": round(time.time() - t0, 1),
    }


def main() -> int:
    spark = get_session("knn_recall")
    out = {
        "metric": "knn_graph_recall_at_3",
        "k": K,
        "floor_sf10_neardup_stratum": FLOOR,
        "tie_rule": "hit iff edge cosine >= exact 3rd-best cosine - 1e-9",
        "note": (
            "sf1: bucket cap provably inert (largest bucket 1431 < 2048) — that"
            " row is the SRP band approximation's intrinsic recall. sf10: cap"
            " engaged (r11 uncapped build: 2.95B pairs, OOM) — the sf10-sf1"
            " per-stratum delta bounds the cap's recall cost. The floor binds"
            " on the >=0.9 exact-third-cosine stratum (near-dup queries — the"
            " SemDeDup regime the graph serves); low-cosine strata are"
            " expected misses by SRP design and are the serving-tier"
            " operators' job (srp_topk/ivf_topk/ivfadc)."
        ),
    }
    for name, sf_dir in SCALES.items():
        out[name] = _measure(spark, sf_dir)
        print(f"# {name}: {out[name]}", file=sys.stderr)

    det = out["sf10"]["neardup_detection"]["detection_recall"]
    out["pass"] = det is not None and det >= FLOOR
    with open(os.path.join(REPO, "KNN_RECALL.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps({k: v for k, v in out.items() if k in ("sf1", "sf10", "pass")}))
    return 0 if out["pass"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
