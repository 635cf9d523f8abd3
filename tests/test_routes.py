"""Both sides of every driver-local / distributed route
(syscol_spark/operators/route.py) compute the same result.

Each case runs one input twice: as routed (at sf0.001 every bound is far
above the input, so the local twin runs) and with one ``BOUNDS`` entry
forced to -1 (the distributed twin). Both runs must take the expected path
in exactly one decision, give the same columns and types, and, for a
catalog query, match its DuckDB oracle. Catalog cases are the cheapest
query that reaches each bound; synthetic cases cover shapes the sf0.001
data lacks (its near-dup components are all pairs, no document holds a
'|', its k-NN graph has no hub, no node without in-edges and only
integer ids, and its corpus has no duplicate or zero vector; its MMR
corpus is larger than the shortlist and holds every query). The
k-means trainer's distributed twin also gets synthetic cases: subspaces
that converge at different iterations, and its job count across subspace
counts.
"""

from __future__ import annotations

import logging

import pytest

from scripts.parity import duck_connection, normalize, values_equal
from syscol_spark.operators import route as R


def _cc_chains(spark, sf_dir):
    """A chain of diameter 4, a triangle with a tail, and a lone pair:
    the distributed propagation needs several rounds to converge."""
    from syscol_spark.operators.dedup import dedup_clusters

    edges = [(5, 4), (4, 3), (3, 2), (2, 1), (10, 11), (11, 12), (10, 12),
             (12, 13), (20, 21)]
    return dedup_clusters(spark.createDataFrame(edges, ["id_a", "id_b"]))


def _pagerank_hub(spark, sf_dir):
    """A hub with 1,200 out-edges (a third of its leaves link back), a
    source-only node, a sink-only node, and string ids."""
    from syscol_spark.operators.graph import pagerank

    leaves = [f"leaf{i:04d}" for i in range(1200)]
    edges = [("hub", v) for v in leaves] + [(v, "hub") for v in leaves[::3]]
    edges += [("source", "hub"), ("source", leaves[1]), (leaves[5], "sink")]
    return pagerank(spark.createDataFrame(edges, "src string, dst string"))


def _knn_corners(bucket_cap: int | None = None):
    """String ids; three copies of one vector (cosine 1.0 ties, broken by
    nbr); an all-zero vector (a NaN cosine with every candidate, NULL in
    the result); and a vector that shares no (band, key) bucket with any
    other. Integer components keep every plane sum exact and away from
    zero, except the zero vector's. Band 0's largest bucket holds 6."""

    def build(spark, sf_dir):
        from syscol_spark.operators.similarity import KNN_BUCKET_CAP, knn_graph

        dup = [3.0, 3.0, 2.0, 0.0, -1.0, 3.0, -2.0, 1.0]
        rows = [("dup_c", dup), ("dup_a", dup), ("dup_b", dup),
                ("v3", [1.0, -1.0, -1.0, 0.0, -3.0, 1.0, 3.0, -1.0]),
                ("v4", [1.0, 3.0, 0.0, -1.0, 1.0, 1.0, 1.0, 3.0]),
                ("v5", [-1.0, 2.0, -3.0, 1.0, 0.0, 1.0, -3.0, 2.0]),
                ("v6", [-2.0, 1.0, 0.0, 0.0, 2.0, 3.0, 3.0, -2.0]),
                ("v7", [-2.0, -3.0, 0.0, -1.0, -3.0, -2.0, 3.0, 3.0]),
                ("v8", [0.0, 0.0, -1.0, 3.0, 3.0, 0.0, -3.0, -2.0]),
                ("zero", [0.0] * 8),
                ("loner", [2.0, 3.0, 3.0, 3.0, 2.0, -3.0, -1.0, 2.0])]
        corpus = spark.createDataFrame(rows, "doc string, emb array<float>")
        return knn_graph(
            corpus, vec_col="emb", id_col="doc", k=3, dim=8, n_bands=2, band_bits=3,
            bucket_cap=KNN_BUCKET_CAP if bucket_cap is None else bucket_cap,
        )

    build.__name__ = "knn_corners" if bucket_cap is None else f"knn_corners_cap{bucket_cap}"
    return build


def _mmr_corners(spark, sf_dir):
    """String ids; two copies of one vector (cosine 1.0 ties, broken by
    id); an all-zero vector (NULL cosines); a query that is not in the
    corpus; a 7-row corpus under the 10-row shortlist; and k = 8 over
    every query's pool (6 candidates, 7 for the outside query)."""
    from syscol_spark.operators.similarity import mmr_topk

    dup = [3.0, 3.0, 2.0, 0.0, -1.0, 3.0, -2.0, 1.0]
    rows = [("dup_b", dup), ("dup_a", dup),
            ("v3", [1.0, -1.0, -1.0, 0.0, -3.0, 1.0, 3.0, -1.0]),
            ("v4", [1.0, 3.0, 0.0, -1.0, 1.0, 1.0, 1.0, 3.0]),
            ("v5", [-1.0, 2.0, -3.0, 1.0, 0.0, 1.0, -3.0, 2.0]),
            ("zero", [0.0] * 8),
            ("v6", [-2.0, 1.0, 0.0, 0.0, 2.0, 3.0, 3.0, -2.0])]
    corpus = spark.createDataFrame(rows, "doc string, emb array<float>")
    queries = corpus.filter("doc IN ('dup_b', 'zero', 'v4')").unionByName(
        spark.createDataFrame([("outside", [2.0, 3.0, 2.0, 0.0, -1.0, 3.0, -2.0, 0.0])],
                              "doc string, emb array<float>")
    )
    return mmr_topk(corpus, queries, vec_col="emb", id_col="doc", k=8, shortlist=10, lam=0.7)


def _bpe_corners(batch):
    """Merge-with-skip corners (consecutive pairs: 'abab', 'banana'), '|'
    inside a word and multi-character symbols."""

    def build(spark, sf_dir):
        from syscol_spark.operators.bpe import learn_bpe_merges

        df = spark.createDataFrame(
            [("banana bandana abab ababab the the the quick brown fox ba|na",),
             ("low lower lowest newest widest banana abab cabab",)],
            "text string",
        )
        return learn_bpe_merges(df, "text", n_merges=10, batch=batch)

    build.__name__ = f"bpe_corners_batch{batch}"
    return build


CASES = [
    ("mmr_shortlist", "q_mmr_diverse"),
    ("mmr_shortlist", _mmr_corners),
    ("mmr_pairs", "q_mmr_diverse"),
    ("mmr_pairs", _mmr_corners),
    ("pair_scorer", "q_mmr_diverse"),
    ("pair_scorer", _mmr_corners),
    ("kmeans_sample", "q_ann_ivf"),
    # over the bound, band_bits="auto" counts the corpus itself
    ("pair_scorer", "q_knn_graph"),
    ("pair_scorer", _knn_corners()),
    ("knn_pairs", "q_knn_graph"),
    ("knn_pairs", _knn_corners()),
    ("bpe_vocab", "q_bpe_vocab_batched"),
    ("bpe_vocab", _bpe_corners(1)),
    ("bpe_vocab", _bpe_corners(4)),
    ("graph_edges", "q_dedup_clusters"),
    ("graph_edges", _cc_chains),
    ("graph_edges", "q_pagerank"),
    ("graph_edges", _pagerank_hub),
]


# routes whose local twin's result is the case's result: it comes back as a
# local relation, which runs no job when used
LOCAL_RESULTS = {"mmr_shortlist", "mmr_pairs", "pair_scorer", "knn_pairs", "bpe_vocab", "graph_edges"}


def test_every_bound_has_a_case():
    assert {name for name, _ in CASES} == set(R.BOUNDS)


def _case_id(case) -> str:
    name, src = case
    return f"{name}-{src if isinstance(src, str) else src.__name__.strip('_')}"


def _run(spark, sf_dir, src, caplog, name):
    """(column names and types, column names, sorted normalized rows, paths
    taken by ``name``, whether the plan is a ``LocalTableScan``)."""
    from syscol_spark.plans.catalog import QUERIES, _ensure_loaded

    _ensure_loaded()
    caplog.clear()
    with caplog.at_level(logging.DEBUG, logger="syscol_spark.route"):
        df = QUERIES[src].builder(spark, sf_dir) if isinstance(src, str) else src(spark, sf_dir)
        cols = [c.lower() for c in df.columns]
        rows = normalize([tuple(r) for r in df.collect()], cols)
    paths = [r.route["path"] for r in caplog.records if getattr(r, "route", {}).get("name") == name]
    local_scan = df._jdf.queryExecution().executedPlan().toString().startswith("LocalTableScan")  # noqa: SLF001
    return [(f.name.lower(), f.dataType) for f in df.schema.fields], cols, rows, paths, local_scan


def _same(got, want) -> bool:
    return len(got) == len(want) and all(
        len(g) == len(w) and all(values_equal(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want)
    )


@pytest.mark.parametrize("case", CASES, ids=_case_id)
def test_forced_route_matches_local_and_oracle(spark, sf_dir, monkeypatch, caplog, case):
    name, src = case
    types, cols, local, paths, local_scan = _run(spark, sf_dir, src, caplog, name)
    assert paths == ["local"]
    assert local_scan == (name in LOCAL_RESULTS)
    monkeypatch.setitem(R.BOUNDS, name, -1)
    f_types, _, forced, f_paths, _ = _run(spark, sf_dir, src, caplog, name)
    assert f_paths == ["distributed"]
    assert f_types == types
    assert len(local) > 0 and _same(forced, local)
    if isinstance(src, str):
        from syscol_spark.plans.catalog import QUERIES

        con = duck_connection(sf_dir)
        rel = con.sql(QUERIES[src].oracle)
        want_cols = [c.lower() for c in rel.columns]
        assert sorted(want_cols) == sorted(cols)
        assert _same(forced, normalize(rel.fetchall(), want_cols))


def test_knn_corners_local_result(spark):
    """The driver-local k-NN graph over _knn_corners: the loner is in no
    row, the zero vector's cosines are NULL (the NaN the Spark scorers'
    Arrow crossing turns into NULL) and rank after every number, and equal
    cosines rank by nbr."""
    rows = _knn_corners()(spark, None).collect()
    assert "loner" not in {r["src"] for r in rows} | {r["nbr"] for r in rows}
    zero = sorted((r["rk"], r["nbr"], r["cosine"]) for r in rows if r["src"] == "zero")
    assert zero == [(1, "dup_a", None), (2, "dup_b", None), (3, "dup_c", None)]
    dup_a = sorted((r["rk"], r["nbr"], r["cosine"]) for r in rows if r["src"] == "dup_a")
    assert [(rk, nbr) for rk, nbr, _ in dup_a] == [(1, "dup_b"), (2, "dup_c"), (3, "v4")]
    assert dup_a[0][2] == dup_a[1][2] == 1.0
    v5 = sorted((r["rk"], r["nbr"], r["cosine"]) for r in rows if r["src"] == "v5")
    assert [(rk, nbr, c is None) for rk, nbr, c in v5] == [(1, "v8", False), (2, "zero", True)]


def test_mmr_corners_local_result(spark):
    """The driver-local MMR over _mmr_corners: the zero vector's cosines
    are NULL and rank after every number, 1.0 ties go to the lowest id, and
    a query whose pool is smaller than k gets its whole pool."""
    rows = _mmr_corners(spark, None).collect()
    picks = {}
    for r in sorted(rows, key=lambda r: r["step"]):
        picks.setdefault(r["query_id"], []).append((r["neighbor_id"], r["simq"]))
    assert {q: len(p) for q, p in picks.items()} == {"dup_b": 6, "zero": 6, "v4": 6, "outside": 7}
    assert picks["zero"] == [(d, None) for d in ("dup_a", "dup_b", "v3", "v4", "v5", "v6")]
    assert picks["dup_b"][0] == ("dup_a", 1.0)
    assert [d for d, _ in picks["outside"][:1]] == ["dup_a"]
    for q in ("dup_b", "v4", "outside"):
        assert picks[q][-1] == ("zero", None)
        assert all(c is not None for _, c in picks[q][:-1])


@pytest.mark.parametrize("forced", [None, "pair_scorer"])
def test_mmr_input_the_mirror_does_not_cover_takes_the_engine(spark, monkeypatch, caplog, forced):
    """A NaN vector element (the engine orders NaN above every number, the
    driver mirror does not) sends MMR to the distributed loop, routed and
    over the pair_scorer bound."""
    from syscol_spark.operators.similarity import mmr_topk

    rows = [(i, [float(i), 1.0, float(i % 3)]) for i in range(8)] + [(8, [float("nan"), 1.0, 0.0])]
    corpus = spark.createDataFrame(rows, "id long, v array<double>")

    def build(spark, sf_dir):
        return mmr_topk(corpus, corpus.filter("id < 2"), vec_col="v", id_col="id", k=3, shortlist=4)

    if forced:
        monkeypatch.setitem(R.BOUNDS, forced, -1)
    _, _, got, paths, local_scan = _run(spark, None, build, caplog, "mmr_pairs")
    assert paths == ["distributed"] and not local_scan and len(got) == 6


@pytest.mark.parametrize("id_type", ["long", "string"])
def test_arrow_route_over_a_local_relation_runs_no_job(spark, id_type):
    """route(..., arrow=True) over a local relation collects it (no Spark
    job) and gives the pandas frame toPandas gives: the same dtypes and
    values, vectors as float32 arrays."""
    ids = list(range(1500)) if id_type == "long" else [f"n{i:05d}" for i in range(1500)]
    rows = [(ids[i], ids[(7 * i) % 1500], [float(i), -0.5], i * 0.25) for i in range(1500)]
    frame = R.local_frame(spark, rows, f"src {id_type}, dst {id_type}, vec array<float>, w double")
    sc = spark.sparkContext
    group = f"test-local-route-{id_type}"
    sc.setJobGroup(group, "route over a local relation")
    try:
        got = R.route("graph_edges", frame, arrow=True)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    want = frame.limit(R.BOUNDS["graph_edges"] + 1).toPandas()
    assert jobs == 0
    assert list(got.dtypes) == list(want.dtypes)
    assert got[["src", "dst", "w"]].equals(want[["src", "dst", "w"]])
    assert all(
        type(g) is type(w) and g.dtype == w.dtype and g.tolist() == w.tolist()
        for g, w in zip(got["vec"], want["vec"])
    )


@pytest.mark.parametrize("forced", ["knn_pairs", "pair_scorer"])
def test_knn_bucket_over_cap_matches_the_forced_twin(spark, monkeypatch, caplog, forced):
    """A (band, key) bucket larger than bucket_cap stays on the driver:
    the cap is inside the candidate kernel that both twins run, so the
    capped graph is the same with either route forced to the distributed
    twin."""
    capped = _knn_corners(bucket_cap=2)
    _, _, got, paths, local_scan = _run(spark, None, capped, caplog, "knn_pairs")
    assert paths == ["local"] and local_scan
    monkeypatch.setitem(R.BOUNDS, forced, -1)
    _, _, got_forced, paths, local_scan = _run(spark, None, capped, caplog, forced)
    assert paths == ["distributed"] and not local_scan
    assert len(got) > 0 and _same(got_forced, got)


@pytest.mark.parametrize("trainer", ["ivfpq", "ivfpq_residual", "pq_adc"])
def test_pq_training_decides_once_over_the_bound(spark, monkeypatch, caplog, trainer):
    """Over the kmeans_sample bound the coarse quantizer and every PQ
    subspace train distributed from ONE probe (no re-probe per trainer),
    and the result agrees with the driver-local trainer's."""
    import math

    import numpy as np

    import syscol_spark.operators.similarity as sim

    rows = [(i, [math.sin(0.37 * i + 0.11 * j) for j in range(8)]) for i in range(64)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def build():
        caplog.clear()
        with caplog.at_level(logging.DEBUG, logger="syscol_spark.route"):
            if trainer == "pq_adc":
                out = sim.pq_adc_topk(
                    corpus, corpus.filter("vec_id < 4"), dim=8, n_subspaces=2,
                    n_centroids=4, max_iter=2, train_stride=2, k=3,
                )
                out = normalize([tuple(r) for r in out.collect()], out.columns)
            else:
                _, meta = sim.build_ivfpq_index(
                    corpus, dim=8, n_lists=4, coarse_iter=2, coarse_stride=2, n_subspaces=2,
                    pq_centroids=4, pq_iter=2, pq_stride=2, residual=trainer == "ivfpq_residual",
                )
                out = np.array(meta["coarse"]), np.array(meta["codebooks"])
        return out, [r.route["path"] for r in caplog.records if hasattr(r, "route")]

    local, paths = build()
    assert paths == ["local"]
    monkeypatch.setitem(R.BOUNDS, "kmeans_sample", -1)
    dist, paths = build()
    assert paths == ["distributed"]
    if trainer == "pq_adc":
        assert len(local) == 12 and _same(dist, local)
    else:
        for d, want in zip(dist, local):
            assert np.allclose(d, want, rtol=0, atol=1e-12)


def _lloyd_rows(n: int = 48) -> list:
    """(id, 4-dim vec) rows whose first subspace (dims 0-1) is two tight
    clusters seeded one in each, so Lloyd's reaches its fixpoint after one
    move, and whose second (dims 2-3) is a skewed line that keeps moving
    for six iterations."""
    rows = []
    for i in range(n):
        a = (0.01 * (i % 5), 0.0) if i % 2 == 0 else (10.0, 10.0 + 0.01 * (i % 7))
        x = float(i) ** 1.5
        rows.append((i, [a[0], a[1], x, 0.5 * x]))
    return rows


def test_joint_lloyd_freezes_converged_subspaces(spark, monkeypatch):
    """The distributed trainer runs every subspace in one loop: a subspace
    that reaches its fixpoint is frozen (it leaves the assignment and keeps
    its codebook) while another keeps moving for all max_iter iterations,
    and each codebook matches the driver-local trainer's."""
    import numpy as np

    import syscol_spark.operators.similarity as sim

    rows, max_iter = _lloyd_rows(), 6
    halves = [[(i, v[s * 2:(s + 1) * 2]) for i, v in rows] for s in range(2)]
    # the case's premise: subspace 0 stops moving after one iteration,
    # subspace 1 still moves in the last one
    assert sim._kmeans_local(halves[0], 2, max_iter) == sim._kmeans_local(halves[0], 2, 1)
    assert sim._kmeans_local(halves[1], 2, max_iter) != sim._kmeans_local(halves[1], 2, max_iter - 1)

    train = spark.createDataFrame(rows, "id long, vec array<double>")

    def train_books():
        return np.array(
            sim._train_codebooks(train, R.route("kmeans_sample", train), 2, max_iter, 2)
        )

    local = train_books()
    widths = []
    kernel = sim._pq_assign_codes

    def spy(vec, codebooks):
        widths.append(len(codebooks))
        return kernel(vec, codebooks)

    monkeypatch.setattr(sim, "_pq_assign_codes", spy)
    monkeypatch.setitem(R.BOUNDS, "kmeans_sample", -1)
    dist = train_books()
    # both subspaces in the first two iterations (the second finds
    # subspace 0's fixpoint), then subspace 1 alone until max_iter
    assert widths == [2, 2] + [1] * (max_iter - 2)
    assert np.allclose(dist, local, rtol=0, atol=1e-12)


def test_distributed_training_jobs_do_not_grow_with_subspaces(spark, monkeypatch):
    """Over the kmeans_sample bound, PQ training runs the same number of
    Spark jobs whether the vector is one subspace or four: one seed fetch
    and one collect per iteration for all subspaces together."""
    import syscol_spark.operators.similarity as sim

    # every subspace a scaled copy of the same slow line: no subspace
    # reaches its fixpoint within max_iter, so each run iterates max_iter
    # times
    rows = [(i, [float(i) ** 1.5, 0.5 * float(i) ** 1.5] * 4) for i in range(48)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    monkeypatch.setitem(R.BOUNDS, "kmeans_sample", -1)
    sc = spark.sparkContext
    jobs = {}
    for n in (1, 2, 4):
        group = f"test-joint-lloyd-{n}"
        sc.setJobGroup(group, "distributed PQ training")
        try:
            sim.pq_codes(corpus, dim=8, n_subspaces=n, n_centroids=2, max_iter=3)
            jobs[n] = len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
    assert jobs[1] > 3 and jobs[1] == jobs[2] == jobs[4], jobs
