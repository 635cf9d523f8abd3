"""The per-query ledger (scripts/ledger.py): eager jobs per build, their
attribution to call sites, and the K-times dataset generator."""

from __future__ import annotations

import pyspark.sql.functions as F

from scripts import ledger
from scripts.parity import duck_connection, normalize, values_equal
from syscol_spark.sources import tables

# Jobs a builder runs before it returns its DataFrame, at sf0.001, one query
# or more per plan family, with no table schema resolved yet (each table the
# builder loads infers its schema in one job). Each count read the same in
# ten ledger runs.
BUILD_JOBS = {
    "q01_pricing_summary": 1,
    "q08_market_share": 7,
    "q11_important_stock": 3,
    "q13_customer_distribution": 2,
    "q_scalar_subquery": 1,
    "q_ev_topk_per_group": 1,
    "q_embed_outliers": 1,
    "q_kmeans_lloyd": 2,
    "q_doc_fingerprint": 1,
    "q_mmr_diverse": 2,
    "q_sample_hash": 1,
    "q_benford": 1,
    "q_inverted_index": 1,
}

# The same builds once their tables' schemas are resolved: each cold count
# less its one inference job per loaded table
WARM_BUILD_JOBS = {
    "q01_pricing_summary": 0,
    "q08_market_share": 0,
    "q11_important_stock": 0,
    "q13_customer_distribution": 0,
    "q_scalar_subquery": 0,
    "q_ev_topk_per_group": 0,
    "q_embed_outliers": 0,
    "q_kmeans_lloyd": 1,
    "q_doc_fingerprint": 0,
    "q_mmr_diverse": 1,
    "q_sample_hash": 0,
    "q_benford": 0,
    "q_inverted_index": 0,
}

# q_pagerank's eager calls: the k-NN graph's pair_scorer route fetch (the
# graph itself is built on the driver) and the graph_edges route fetch of
# its edge list, a local relation
PAGERANK_SITES = {
    "operators/graph.py::pagerank",
    "operators/similarity.py::knn_graph",
}

# q_pagerank's build jobs at sf0.001: the corpus fetch and the table's schema
# inference; the k-NN graph and PageRank run on the driver, and the edge-list
# fetch collects the k-NN graph's local relation without a job. Warm, its
# one table load runs no job.
PAGERANK_BUILD_JOBS = 2
PAGERANK_WARM_BUILD_JOBS = 1


def _cold(spark, name: str, sf_dir: str) -> dict:
    """A ledger row measured with no table schema resolved."""
    tables._resolved.clear()
    return ledger.measure(spark, name, sf_dir)


def _inference_jobs(row) -> int:
    return sum(s["jobs"] for s in row["sites"] if s["method"] == "parquet")


def _paths(row) -> dict[str, str]:
    return {r["name"]: r["path"] for r in row["routes"]}


def test_build_jobs_are_pinned(spark, sf_dir):
    cold, warm = {}, {}
    for q in BUILD_JOBS:
        cold[q] = _cold(spark, q, sf_dir)
        warm[q] = ledger.measure(spark, q, sf_dir)
    assert {q: r["build"]["jobs"] for q, r in cold.items()} == BUILD_JOBS
    assert {q: r["build"]["jobs"] for q, r in warm.items()} == WARM_BUILD_JOBS
    assert {q: BUILD_JOBS[q] - _inference_jobs(r) for q, r in cold.items()} == WARM_BUILD_JOBS
    assert all(_inference_jobs(r) == 0 for r in warm.values())
    assert _paths(cold["q_mmr_diverse"]) == {
        "pair_scorer": "local", "mmr_shortlist": "local", "mmr_pairs": "local",
    }
    assert all(not r["routes"] for q, r in cold.items() if q != "q_mmr_diverse")
    # the driver-local MMR result is a local relation: no execute job
    mmr = cold["q_mmr_diverse"]
    assert mmr["plan"]["local"] and mmr["execute"]["jobs"] == 0


def test_pagerank_sites_account_for_every_build_job(spark, sf_dir):
    cold = _cold(spark, "q_pagerank", sf_dir)
    warm = ledger.measure(spark, "q_pagerank", sf_dir)
    for row, jobs in ((cold, PAGERANK_BUILD_JOBS), (warm, PAGERANK_WARM_BUILD_JOBS)):
        assert PAGERANK_SITES <= {s["site"] for s in row["sites"]}
        assert sum(s["jobs"] for s in row["sites"]) + row["unattributed"]["jobs"] == row["build"]["jobs"]
        assert row["attribution_ok"]
        assert _paths(row) == {"pair_scorer": "local", "knn_pairs": "local", "graph_edges": "local"}
        assert row["build"]["jobs"] == jobs and row["plan"]["jobs"] == 0
        assert row["plan"]["local"] and row["execute"]["jobs"] == 0
    assert _inference_jobs(warm) == 0


def test_py4j_calls_attributed_per_site_repeat(spark, sf_dir):
    """Py4J round trips with a package frame repeat exactly between warm
    builds; only the remainder (the finalizer thread's releases) varies."""
    for q in ("q08_market_share", "q_mmr_diverse"):
        ledger.measure(spark, q, sf_dir)
        a, b = (ledger.measure(spark, q, sf_dir) for _ in range(2))
        calls = [{r["site"]: r["calls"] for r in row["py4j_sites"]} for row in (a, b)]
        assert calls[0] == calls[1] and sum(calls[0].values()) > 0, q
        for row in (a, b):
            attributed = sum(r["calls"] for r in row["py4j_sites"])
            assert attributed + row["unattributed"]["py4j_calls"] == row["build"]["py4j_calls"], q


def test_inflate_copies_keys_disjointly_and_keeps_oracle_parity(spark, sf_dir, tmp_path):
    dst = str(tmp_path / "x2")
    ledger.inflate(spark, sf_dir, dst, 2)

    def table(root, name):
        return spark.read.parquet(f"{root}/{name}.parquet")

    for name in ledger.UNCHANGED:
        assert sorted(table(dst, name).collect()) == sorted(table(sf_dir, name).collect())
    for name, keys in ledger.KEYS.items():
        n = table(sf_dir, name).count()
        big = table(dst, name)
        assert big.count() == 2 * n, name
        for key in keys:
            # copy 0 keeps the base keys; copy 1 is the same range moved
            # up by STRIDE, so the two ranges never meet
            copies = (
                big.groupBy((F.col(key) >= ledger.STRIDE).alias("copy"))
                .agg(F.count("*").alias("n"), F.min(key).alias("lo"), F.max(key).alias("hi"))
                .orderBy("copy")
                .collect()
            )
            assert [r["n"] for r in copies] == [n, n], (name, key)
            c0, c1 = copies
            assert c0["hi"] < c1["lo"] and c1["lo"] == c0["lo"] + ledger.STRIDE, (name, key)

    from syscol_spark.plans.catalog import QUERIES, _ensure_loaded

    _ensure_loaded()
    con = duck_connection(dst)
    for q in ("q01_pricing_summary", "q_embed_topk"):
        df = QUERIES[q].builder(spark, dst)
        cols = [c.lower() for c in df.columns]
        got = normalize([tuple(r) for r in df.collect()], cols)
        rel = con.sql(QUERIES[q].oracle)
        want_cols = [c.lower() for c in rel.columns]
        want = normalize(rel.fetchall(), want_cols)
        assert sorted(cols) == sorted(want_cols) and len(got) == len(want) > 0, q
        assert all(values_equal(x, y) for g, w in zip(got, want) for x, y in zip(g, w)), q
