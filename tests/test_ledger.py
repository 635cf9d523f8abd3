"""The per-query ledger (scripts/ledger.py): eager jobs per build, their
attribution to call sites, and the K-times dataset generator."""

from __future__ import annotations

import pyspark.sql.functions as F

from scripts import ledger
from scripts.parity import duck_connection, normalize, values_equal

# Jobs a builder runs before it returns its DataFrame, at sf0.001, one query
# or more per plan family. Each count read the same in ten ledger runs.
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
    "q_mmr_diverse": 10,
    "q_sample_hash": 1,
    "q_benford": 1,
    "q_inverted_index": 1,
}

# q_pagerank's eager calls include the weighted edge list checkpoint, the
# iteration checkpoints, and the k-NN graph's id-sorted checkpoint
PAGERANK_SITES = {
    "operators/graph.py:59",
    "operators/graph.py:102",
    "operators/similarity.py:871",
}


def _paths(row) -> dict[str, str]:
    return {r["name"]: r["path"] for r in row["routes"]}


def test_build_jobs_are_pinned(spark, sf_dir):
    rows = {q: ledger.measure(spark, q, sf_dir) for q in BUILD_JOBS}
    assert {q: r["build"]["jobs"] for q, r in rows.items()} == BUILD_JOBS
    assert _paths(rows["q_mmr_diverse"]) == {"mmr_shortlist": "local", "mmr_pairs": "local"}
    assert all(not r["routes"] for q, r in rows.items() if q != "q_mmr_diverse")


def test_pagerank_sites_account_for_every_build_job(spark, sf_dir):
    row = ledger.measure(spark, "q_pagerank", sf_dir)
    assert PAGERANK_SITES <= {s["site"] for s in row["sites"]}
    assert sum(s["jobs"] for s in row["sites"]) + row["unattributed"]["jobs"] == row["build"]["jobs"]
    assert row["attribution_ok"]
    assert _paths(row) == {"pair_scorer": "local"}
    # not pinned: inside an iteration checkpoint (graph.py:102) AQE's runtime
    # broadcast conversion races the other join side's shuffle stage, which
    # is sometimes submitted as one more job before the re-plan drops it
    assert 27 <= row["build"]["jobs"] <= 29 and row["plan"]["jobs"] == 0


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
