"""Similarity search over embedding columns (north-star).

- Exact: brute_force_topk scores a broadcast query set against one corpus
  scan and ranks per query; mmr_topk re-ranks for diversity (maximal
  marginal relevance).
- SRP (sign random projection) LSH. The hyperplanes are deterministic: a
  multiply-xorshift hash of (plane, dimension, seed) gives every
  coefficient, so runs and clusters agree with no stored model and the
  DuckDB oracles rebuild the same planes.
  - Gaussian planes (_srp_plane): srp_bucket packs the sign bits into one
    bucket id; srp_topk probes the query's bucket and its Hamming
    neighbors.
  - ±1 planes (rademacher_signs): band keys for embedding near-dup
    (srp_band_pairs) and the whole-corpus k-NN graph (knn_graph). One
    candidate kernel (_srp_bucket_pairs) runs on the driver under a size
    bound and per bucket group on the executors above it.
- Quantizers: k-means (kmeans_centroids), IVF (ivf_topk), PQ (pq_codes,
  pq_adc_topk) and IVF-PQ (ivf_pq_topk, build_ivfpq_index and its
  append/save/load/serve helpers), over one nearest-centroid kernel.
- SemDeDup: semantic_dedup and its incremental twin semantic_dedup_delta.

Each operator with a driver-local twin picks it through
operators/route.py; both twins compute the same result.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql.functions import broadcast
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from syscol_spark.functions.rounding import round6_like_spark_array
from syscol_spark.functions.vectors import cosine_like_spark, cosine_similarity
from syscol_spark.operators.route import fits, local_frame, route


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors by cosine: (query_id, neighbor_id, cosine, rk).
    Deterministic ties: (cosine desc, neighbor_id asc); a zero vector's
    NULL cosine ranks after every number."""
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    scored = (
        c.crossJoin(broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_similarity("q_vec", "c_vec"), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.select("*", F.row_number().over(w).cast("long").alias("rk"))
        .filter(F.col("rk") <= k)
    )


def mmr_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    shortlist: int = 20,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal Marginal Relevance diversified top-k (Carbonell & Goldstein,
    SIGIR'98): greedily select ``k`` results that balance query relevance
    against redundancy with what's already selected —
    ``argmax lam*sim(q,d) - (1-lam)*max_{s in S} sim(d,s)``. The retrieval
    op a RAG/training-data pipeline runs when plain top-k returns k copies
    of the same document.

    Three twins compute the result, chosen in this order:

    - The ``pair_scorer`` route fetches the corpus and the queries as
      (id, vec) in one bounded fetch. When it holds them, the driver checks
      ``mmr_shortlist`` against ``n_q * s`` shortlist rows and
      ``mmr_pairs`` against ``n_q * n_c + n_q * s * (s - 1)`` cosines
      (s = min(shortlist, n_c)), before computing any. Within both,
      ``_mmr_local`` computes the whole result in numpy and returns it as a
      local relation: below a size bound distributed execution is
      scheduling overhead (McSherry et al., "Scalability! But at what
      COST?", HotOS 2015).
    - Over the fetch bound, the engine computes the exact top-``shortlist``
      (brute_force_topk), and the ``mmr_shortlist`` route fetches it with
      the candidates' vectors joined. Within it and ``mmr_pairs`` (the
      in-shortlist pairs), ``_mmr_greedy_rows`` selects on the driver.
      This keeps a big corpus with few queries cheap. Over the shortlist
      fetch's bound no pair count exists, so ``mmr_pairs`` is not decided.
    - Otherwise the distributed loop runs: a pairwise-cosine self-join
      within each query's shortlist (shortlist² rows per query, never
      corpus-proportional), then k-1 bounded rounds of join + groupBy +
      ``min_by`` over that pair table, lineage cut by localCheckpoint.

    The driver twins compute every cosine with ``cosine_like_spark``, the
    engine's fold in the engine's order, and round like ``F.round(x, 6)``,
    so all twins see the same doubles. An input the mirror does not cover
    (a NULL id, a duplicate id, a NULL or non-finite vector element, or
    vectors of different lengths) takes the engine twins. A zero vector's
    cosines are NULL; NULL ranks after every number, in the shortlist and
    in each greedy step.

    Determinism: all cosines round to 6dp before the MMR arithmetic, ties
    break on candidate id — so the greedy trajectory is reproducible
    bit-for-bit in the SQL oracle (q_mmr_diverse unrolls the k-step loop).

    Output: (query_id, neighbor_id, simq, step 1..k) — step is selection
    order, not similarity rank.
    """
    spark = corpus.sparkSession
    schema = StructType([
        StructField("query_id", queries.schema[id_col].dataType),
        StructField("neighbor_id", corpus.schema[id_col].dataType),
        StructField("simq", DoubleType()),
        StructField("step", LongType()),
    ])
    iv = [
        side.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"), F.lit(tag).alias("is_q"))
        for side, tag in ((corpus, False), (queries, True))
    ]
    pdf = route("pair_scorer", iv[0].unionByName(iv[1]), arrow=True)
    if pdf is not None:
        mat = _mirror_matrix(pdf["vec"])
        is_q = pdf["is_q"].to_numpy(dtype=bool)
        ok = mat is not None and all(
            not ids.isna().any() and ids.is_unique for ids in (pdf["id"][is_q], pdf["id"][~is_q])
        )
        n_q, n_c = int(is_q.sum()), int((~is_q).sum())
        s = min(shortlist, n_c)
        # both decisions are logged whatever the first one says
        short_ok = fits("mmr_shortlist", n_q * s, local_ok=ok)
        if fits("mmr_pairs", n_q * n_c + n_q * s * (s - 1), local_ok=ok) and short_ok:
            rows = _mmr_local(
                pdf["id"][is_q].to_numpy(), mat[is_q], pdf["id"][~is_q].to_numpy(), mat[~is_q],
                k, shortlist, lam,
            )
            return local_frame(spark, rows, schema)
    short = brute_force_topk(corpus, queries, vec_col=vec_col, id_col=id_col, k=shortlist)
    sv = short.select(
        "query_id", F.col("neighbor_id").alias("cand_id"), F.col("cosine").alias("simq")
    ).localCheckpoint()
    vecs = corpus.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("__v"))
    if pdf is None:
        sv_pdf = route("mmr_shortlist", sv.join(vecs, "cand_id"), arrow=True)
        if sv_pdf is not None:
            mat = _mirror_matrix(sv_pdf["__v"])
            ok = mat is not None and not sv_pdf.duplicated(["query_id", "cand_id"]).any()
            per_q = sv_pdf.groupby("query_id", sort=False).size().to_numpy()
            if fits("mmr_pairs", int((per_q * (per_q - 1)).sum()), local_ok=ok):
                return local_frame(spark, _mmr_greedy_rows(sv_pdf, mat, k, lam), schema)
    return _mmr_distributed(sv, vecs, k, lam)


def _mirror_matrix(cells) -> np.ndarray | None:
    """Fetched vector cells as a float64 row matrix (the float32 -> float64
    widening is exact), or None where ``cosine_like_spark`` would not mirror
    the engine's fold: a NULL vector or element, a non-finite element, or
    rows of different lengths (``zip_with`` pads the shorter with NULL)."""
    vecs = [None if v is None else np.asarray(v, dtype="float64") for v in cells]
    if any(v is None for v in vecs) or len({len(v) for v in vecs}) > 1:
        return None
    mat = np.stack(vecs) if vecs else np.zeros((0, 0))
    return mat if np.isfinite(mat).all() else None


def _mmr_local(q_ids, q_mat, c_ids, c_mat, k: int, shortlist: int, lam: float) -> list:
    """mmr_topk's result rows computed on the driver from the fetched
    queries and corpus (ids and float64 row matrices), with the engine's
    arithmetic: every query-corpus cosine and every in-shortlist pair cosine
    by ``cosine_like_spark``, rounded like ``F.round(x, 6)``. The shortlist
    drops the query itself and orders by (cosine desc, NULL after every
    number, id asc), as brute_force_topk's window does; the selection is
    ``_mmr_greedy``."""
    order = np.argsort(c_ids, kind="stable")
    c_ids, c_mat = c_ids[order], c_mat[order]
    cos = round6_like_spark_array(cosine_like_spark(q_mat, c_mat))
    key = np.where(np.isnan(cos), 3.0, -cos)
    key[q_ids[:, None] == c_ids[None, :]] = np.inf  # the query itself sorts last
    # a stable sort keeps equal cosines in ascending id order
    ranked = np.argsort(key, axis=1, kind="stable")[:, : min(shortlist, len(c_ids))]
    pool_size = (np.take_along_axis(key, ranked, axis=1) != np.inf).sum(axis=1)
    pool = c_mat[ranked]
    sims = round6_like_spark_array(cosine_like_spark(pool, pool))
    ids = c_ids.tolist()
    rows = []
    for i, qid in enumerate(q_ids.tolist()):
        n = pool_size[i]
        cand = ranked[i, :n]
        rows += _mmr_rows(qid, [ids[j] for j in cand], cos[i, cand], sims[i, :n, :n], k, lam)
    return rows


def _mmr_greedy_rows(sv_pdf: pd.DataFrame, mat: np.ndarray, k: int, lam: float) -> list:
    """mmr_topk's result rows from the engine's shortlist ``sv_pdf``
    (query_id, cand_id, simq, __v) and its vectors ``mat``: the in-shortlist
    pair cosines by ``cosine_like_spark``, rounded like ``F.round(x, 6)``,
    then ``_mmr_greedy`` per query."""
    cand_ids = sv_pdf["cand_id"].to_numpy()
    simq = sv_pdf["simq"].to_numpy(dtype="float64")  # NULL -> NaN
    rows = []
    for qid, idx in sv_pdf.groupby("query_id", sort=False).indices.items():
        sims = round6_like_spark_array(cosine_like_spark(mat[idx], mat[idx]))
        qid = qid.item() if isinstance(qid, np.generic) else qid
        rows += _mmr_rows(qid, cand_ids[idx].tolist(), simq[idx], sims, k, lam)
    return rows


def _mmr_rows(qid, ids: list, simq: np.ndarray, sims: np.ndarray, k: int, lam: float) -> list:
    """(query_id, neighbor_id, simq, step) for one query's selection; a
    NaN simq is NULL."""
    return [
        (qid, ids[j], None if np.isnan(simq[j]) else float(simq[j]), step)
        for step, j in enumerate(_mmr_greedy(ids, simq, sims, k, lam), 1)
    ]


def _mmr_greedy(ids: list, simq: np.ndarray, sims: np.ndarray, k: int, lam: float) -> list[int]:
    """The indices into ``ids`` that mmr_topk's distributed loop selects, in
    selection order, from one query's shortlist: candidate ids ``ids``,
    their rounded query cosines ``simq`` and their rounded pair cosines
    ``sims`` (NaN for NULL). Step 1 takes the largest ``simq``; each later
    step the largest ``lam * simq - (1 - lam) * pen``, where ``pen`` is the
    largest pair cosine with a selected candidate. As in the engine, the
    max skips NULLs (``np.fmax``), a NULL score ranks after every number,
    ties go to the lowest id, and the score is the same two IEEE double
    products and one difference."""
    one_minus = 1.0 - lam  # computed once, as F.lit(1.0 - lam) is
    pen = np.full(len(ids), np.nan)
    score = simq
    left, chosen = list(range(len(ids))), []
    while left and len(chosen) < k:
        if chosen:
            pen = np.fmax(pen, sims[:, chosen[-1]])
            score = lam * simq - one_minus * pen
        sc = score.tolist()
        best = min(left, key=lambda i: (True, 0.0, ids[i]) if sc[i] != sc[i] else (False, -sc[i], ids[i]))
        chosen.append(best)
        left.remove(best)
    return chosen


def _argmax_key(score: Column) -> Column:
    """The ``min_by`` ordering that picks the largest ``score`` per query,
    with NULL after every number and ties to the lowest cand_id: a struct
    orders a NULL field first, so NULLs are moved last by a leading flag."""
    return F.struct(score.isNull().alias("__null"), (-score).alias("__ns"), F.col("cand_id"))


def _mmr_distributed(sv: DataFrame, vecs: DataFrame, k: int, lam: float) -> DataFrame:
    """mmr_topk's distributed twin over the engine shortlist ``sv``
    (query_id, cand_id, simq) and the corpus vectors ``vecs`` (cand_id,
    __v): the in-shortlist pair table, then one join + aggregate +
    checkpoint round per step."""
    pv = sv.join(vecs, "cand_id")
    pairs = (
        pv.select("query_id", F.col("cand_id"), F.col("__v").alias("__va"))
        .join(
            pv.select(
                "query_id", F.col("cand_id").alias("sel_id"), F.col("__v").alias("__vb")
            ),
            "query_id",
        )
        .filter(F.col("cand_id") != F.col("sel_id"))
        .select(
            "query_id", "cand_id", "sel_id",
            F.round(cosine_similarity("__va", "__vb"), 6).alias("sim"),
        )
        .localCheckpoint()
    )
    # step-1 argmax as ONE aggregate (r15): min_by over _argmax_key(simq)
    # == the (simq DESC, cand_id ASC) window order; the key is unique per
    # query because cand_id is, so the same row wins.
    selected = (
        sv.groupBy("query_id")
        .agg(F.min_by(F.struct("cand_id", "simq"), _argmax_key(F.col("simq"))).alias("__b"))
        .select(
            "query_id",
            F.col("__b.cand_id").alias("cand_id"),
            F.col("__b.simq").alias("simq"),
            F.lit(1).cast("long").alias("step"),
        )
        .localCheckpoint()
    )
    for t in range(2, k + 1):
        cand = (
            sv.join(selected.select("query_id", "cand_id"), ["query_id", "cand_id"], "left_anti")
            .join(
                selected.select("query_id", F.col("cand_id").alias("sel_id")), "query_id"
            )
            .join(pairs, ["query_id", "cand_id", "sel_id"])
            .groupBy("query_id", "cand_id", "simq")
            .agg(F.max("sim").alias("__pen"))
        )
        score = F.lit(lam) * F.col("simq") - F.lit(1.0 - lam) * F.col("__pen")
        # per-step argmax as ONE aggregate (same uniqueness argument as
        # step 1: cand_id is unique within each query's candidate pool)
        pick = (
            cand.groupBy("query_id")
            .agg(F.min_by(F.struct("cand_id", "simq"), _argmax_key(score)).alias("__b"))
            .select(
                "query_id",
                F.col("__b.cand_id").alias("cand_id"),
                F.col("__b.simq").alias("simq"),
                F.lit(t).cast("long").alias("step"),
            )
        )
        selected = selected.unionAll(pick).localCheckpoint()
    return selected.select(
        "query_id", F.col("cand_id").alias("neighbor_id"), "simq", "step"
    )


def _srp_plane(dim: int, plane: int, seed: int = 42) -> list[float]:
    """Deterministic pseudo-random hyperplane: unit-free gaussian-ish values
    from a splitmix-style integer hash. Pure python at plan time."""
    vals = []
    for d in range(dim):
        x = (plane * 1_000_003 + d * 19_349_663 + seed * 83_492_791) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 33
        x = (x * 0xFF51AFD7ED558CCD) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 33
        u = (x & 0xFFFFFFFF) / 2**32  # uniform [0,1)
        vals.append(math.sqrt(-2 * math.log(u + 1e-12)) * math.cos(2 * math.pi * ((x >> 32) / 2**32)))
    return vals


def srp_bucket(vec: Column | str, dim: int, n_planes: int = 8, seed: int = 42) -> Column:
    """LSH bucket id: the sign bits of <vec, plane_p> over the gaussian SRP
    hyperplanes (_srp_plane), bit p set when the dot is >= 0, packed into
    a long in one Arrow-batched numpy pass per batch.

    Each dot is bit-identical to the DuckDB oracle's list_reduce fold
    (plans/northstar.py::_srp_bucket_sql): the elementwise multiply is the
    same IEEE float64 op, and ``np.add.accumulate`` applies ``+`` strictly
    sequentially in index order (the fold starts at 0.0 and 0.0+x == x), so
    every intermediate rounding matches the fold's. A BLAS matmul would NOT
    be safe here — it reorders the sum, and gaussian addends are inexact
    (unlike the ±1 rademacher planes of _band_keys_local, where any order
    sums the same exact addends)."""
    from pyspark.sql.functions import pandas_udf

    planes = np.array([_srp_plane(dim, p, seed) for p in range(n_planes)], dtype="float64")
    weights = np.int64(1) << np.arange(n_planes, dtype="int64")

    @pandas_udf("long")
    def _bucket(v: pd.Series) -> pd.Series:
        m = np.stack(v.to_numpy()).astype("float64")
        bits = np.empty((m.shape[0], n_planes), dtype="int64")
        for p in range(n_planes):
            bits[:, p] = np.add.accumulate(m * planes[p], axis=1)[:, -1] >= 0
        return pd.Series(bits @ weights)

    return _bucket(F.col(vec) if isinstance(vec, str) else vec)


def srp_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    k: int = 5,
    n_planes: int = 6,
    probe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k: score only candidates whose SRP bucket is within
    ``probe_hamming`` bit flips of the query's bucket (multi-probe LSH),
    then rank. Same output columns as brute_force_topk.

    Multi-probe closes the recall cliff at bucket boundaries: a neighbor on
    the far side of ONE hyperplane lands in a bucket at Hamming distance 1,
    which single-probe misses entirely. The query side (small by
    construction) is exploded to its probe set — sum(C(n_planes, i)) for
    i <= probe_hamming buckets — and stays broadcast; the corpus is still
    hashed and scanned exactly once, so the candidate set grows by the probe
    multiplicity, not the corpus size."""
    if not 0 <= probe_hamming <= 2:
        raise ValueError("probe_hamming in {0,1,2} (probe count grows as C(n_planes, r))")
    bucket = srp_bucket(vec_col, dim, n_planes)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"), bucket.alias("bucket")
    )
    masks = [0]
    if probe_hamming >= 1:
        masks += [1 << p for p in range(n_planes)]
    if probe_hamming >= 2:
        masks += [(1 << p) | (1 << q) for p in range(n_planes) for q in range(p + 1, n_planes)]
    b = F.col("_bucket")
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"), bucket.alias("_bucket")
    ).select(
        "query_id",
        "q_vec",
        F.explode(F.array(*[b.bitwiseXOR(F.lit(m).cast("long")) for m in masks])).alias("bucket"),
    )
    # No pair dedup needed: the XOR masks are distinct, so a query's probe
    # buckets are distinct, and a neighbor (one bucket) can match a given
    # query through at most ONE probe — the join cannot duplicate pairs.
    # (An earlier version paid a full dropDuplicates shuffle here.)
    scored = (
        c.join(broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", F.round(cosine_similarity("q_vec", "c_vec"), 6).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return scored.select("*", F.row_number().over(w).cast("long").alias("rk")).filter(F.col("rk") <= k)


# --- Quantizer core (nearest-centroid kernel, k-means trainer) and IVF ------

def matrix_dots(vec: Column | str, matrix: list[list[float]]) -> Column:
    """Array of dot products <vec, row_j> for every row of a plan-time
    matrix literal, via one Arrow-batched BLAS matmul
    (batch x dim) @ (dim x n_rows):
    an interpreted higher-order fold costs O(dim*n_rows) lambda-ops per
    ROW, the matmul is effectively free per batch. Summation order differs
    from a fold, but the SQL oracle twin sums in ITS own (group-by) order
    too — both engines' scores agree to ~1e-13 relative, far beyond any
    argmax margin observed in the fixtures (see srp_band_sql_keys for the
    same argument with measured margins). The nprobe ranking (_probe_lists)
    reads every score; a nearest-centroid assignment only needs the
    argmax and runs _pq_assign_codes instead."""
    from pyspark.sql.functions import pandas_udf

    m_t = np.array(matrix, dtype="float64").T  # (dim, n_rows)

    @pandas_udf("array<double>")
    def _dots(v: pd.Series) -> pd.Series:
        b = np.stack(v.to_numpy()).astype("float64")
        return pd.Series(list(b @ m_t))

    return _dots(F.col(vec) if isinstance(vec, str) else vec)


def _half_norms(centroids) -> list[float]:
    """|c|^2 / 2 per centroid as a Python float left fold: the term every
    nearest-centroid score and the nprobe ranking subtract, via the
    identity argmin |v-c|^2 = argmax (<v,c> - |c|^2/2)."""
    return [sum(x * x for x in c) / 2.0 for c in centroids]


def _nearest_kernel(codebooks):
    """The one nearest-centroid argmax. Returns a function of a float64
    (n, n_subspaces * sub) array giving the (n, n_subspaces) int32 codes:
    per subspace, a (n, sub) @ (sub, k) dgemm on the contiguous slice,
    minus the _half_norms, first maximum on ties. One centroid set is the
    coarse quantizer (sub = dim). The engine (_pq_assign_codes) and the
    driver-local trainer and residuals run this same function, so their
    assignments agree bit for bit on the same machine."""
    mats_t = [np.array(cb, dtype="float64").T for cb in codebooks]  # (sub, k) views
    halfs = [np.array(_half_norms(cb), dtype="float64") for cb in codebooks]
    sub = mats_t[0].shape[0]

    def nearest(x: np.ndarray) -> np.ndarray:
        out = np.empty((x.shape[0], len(mats_t)), dtype="int32")
        for s, m_t in enumerate(mats_t):
            sl = np.ascontiguousarray(x[:, s * sub:(s + 1) * sub])
            out[:, s] = np.argmax(sl @ m_t - halfs[s][None, :], axis=1)
        return out

    return nearest


def _pq_assign_codes(vec: Column | str, codebooks: list[list[list[float]]]) -> Column:
    """Nearest-centroid codes of every subspace in ONE Arrow crossing, as
    an array<int> column (_nearest_kernel per batch). One column, not a
    transformation per subspace: such a chain cost a measured ~1.3 s of
    DRIVER plan-construction wall per index build (r14)."""
    from pyspark.sql.functions import pandas_udf

    nearest = _nearest_kernel(codebooks)

    @pandas_udf("array<int>")
    def _codes(v: pd.Series) -> pd.Series:
        return pd.Series(list(nearest(np.stack(v.to_numpy()).astype("float64"))))

    return _codes(F.col(vec) if isinstance(vec, str) else vec)


def _stride_sample(df: DataFrame, id_col: str, stride: int) -> DataFrame:
    """Deterministic 1-in-``stride`` training sample. Numeric ids keep the
    oracle-mirrorable ``id % stride == 0`` (dense ids → uniform; the catalog
    oracles reproduce it as WHERE id % stride = 0). Non-numeric ids (string
    doc UUIDs) stride on a stable hash instead — same uniformity and
    determinism, just not CTE-mirrored (no catalog query strides on them)."""
    from pyspark.sql.types import NumericType

    if stride <= 1:
        return df
    if isinstance(df.schema[id_col].dataType, NumericType):
        return df.filter(F.col(id_col) % stride == 0)
    return df.filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(stride)) == 0)


def kmeans_centroids(
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 16,
    max_iter: int = 5,
    train_stride: int = 1,
) -> list[list[float]]:
    """Deterministic Lloyd's k-means (_train_codebooks with one subspace).

    Init = the k vectors with the LOWEST ids (deterministic — no RNG, so
    runs are reproducible across clusters; plant better seeds upstream if
    needed). Each iteration assigns every vector to its nearest centroid
    (_nearest_kernel) and moves each centroid to the mean of its members.
    Empty clusters keep their previous centroid; training stops at an exact
    fixpoint or after ``max_iter`` iterations. Under the ``kmeans_sample``
    bound the training set is fetched once and iterated in numpy; over it,
    each iteration is one scan plus a groupBy of k*dim partial sums
    (map-side combined, so shuffle volume is independent of corpus size).
    The driver holds only the k*dim centroid matrix.

    ``train_stride > 1`` trains the quantizer on the deterministic sample
    ``id % train_stride == 0`` instead of the full corpus — THE scale
    knob: a coarse quantizer needs ~1000 points per centroid, not 100 TB;
    pick stride ≈ corpus_rows / (1000 * k) so iterations scan a bounded
    sample while serving still assigns every vector exactly once. A
    stride sample (ids are dense) is uniform, deterministic, and exactly
    mirrorable in a SQL oracle twin (WHERE id % stride = 0) — unlike
    df.sample, whose RNG is engine-private."""
    train = _stride_sample(
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")), "id", train_stride
    )
    return _train_codebooks(train, route("kmeans_sample", train), k, max_iter, 1)[0]


def _train_codebooks(
    train: DataFrame | None, sample: list | None, k: int, max_iter: int, n_subspaces: int
) -> list[list[list[float]]]:
    """The one k-means trainer: a codebook of ``k`` centroids for each of
    ``n_subspaces`` contiguous subspaces of the (id, vec) training frame
    ``train``, given its ``kmeans_sample`` route result ``sample``. One
    subspace is the coarse quantizer. Under the bound every slice of the
    fetched sample trains in numpy (_kmeans_local; float32→float64
    widening is elementwise, so slicing on the driver equals slicing in
    the engine); over it _lloyd_distributed trains all subspaces in one
    loop."""
    if sample is None:
        return _lloyd_distributed(train, k, max_iter, n_subspaces)
    sub = _sub_width(len(sample[0][1]), n_subspaces)
    return [
        _kmeans_local([(r[0], r[1][s * sub:(s + 1) * sub]) for r in sample], k, max_iter)
        for s in range(n_subspaces)
    ]


def _lloyd_distributed(
    train: DataFrame, k: int, max_iter: int, n_subspaces: int
) -> list[list[list[float]]]:
    """_train_codebooks' distributed twin over an over-bound (id, vec)
    training frame: every subspace in one Lloyd's loop. The seeds are one
    fetch of the k lowest-id rows; each iteration is one fused assignment
    of the subspaces still moving and one collect of their
    (subspace, cluster, element) sums. A subspace that reaches its
    fixpoint is frozen, so each codebook is what a loop over that subspace
    alone gives, and the job count does not grow with ``n_subspaces``.
    The frame is re-scanned once per iteration, so it is persisted for
    the duration (only the first action pays the source read) and
    unpersisted before returning, because the serving scan reads the
    source."""
    train = train.persist()
    try:
        seeds = [
            [float(x) for x in r[0]]
            for r in train.orderBy("id").limit(k).select("vec").collect()
        ]
        sub = _sub_width(len(seeds[0]), n_subspaces)
        books = [[row[s * sub:(s + 1) * sub] for row in seeds] for s in range(n_subspaces)]
        moving = list(range(n_subspaces))
        for _ in range(max_iter):
            # the moving subspaces' slices side by side: position p of the
            # codes array is subspace moving[p]
            vec = F.concat(*[F.slice("vec", s * sub + 1, sub) for s in moving])
            assigned = train.select(vec.alias("__v")).withColumn(
                "__codes", _pq_assign_codes("__v", [books[s] for s in moving])
            )
            rows = (
                assigned.select("__codes", F.posexplode("__v").alias("__i", "__x"))
                .select(
                    F.expr(f"CAST(__i div {sub} AS INT)").alias("__p"),
                    F.expr(f"__i % {sub}").alias("__j"),
                    "__codes", "__x",
                )
                .groupBy("__p", F.element_at("__codes", F.col("__p") + 1).alias("__c"), "__j")
                .agg(F.sum(F.col("__x").cast("double")).alias("s"), F.count(F.lit(1)).alias("n"))
                .collect()
            )
            # empty clusters keep their centroid
            new = {s: [list(c) for c in books[s]] for s in moving}
            for r in rows:
                new[moving[r["__p"]]][r["__c"]][r["__j"]] = r["s"] / r["n"]
            # a codebook that did not move is at its fixpoint: frozen
            moving = [s for s in moving if new[s] != books[s]]
            for s in moving:
                books[s] = new[s]
            if not moving:
                break
        return books
    finally:
        train.unpersist()


def _kmeans_local(rows: list, k: int, max_iter: int) -> list[list[float]]:
    """Lloyd's on a collected (id, vec) sample — the same procedure as the
    distributed loop (seeds = k lowest ids, _nearest_kernel assignment,
    means per cluster, empty clusters keep their centroid, stop on exact
    fixpoint), so the unrolled-CTE SQL oracle mirrors it identically
    (summation-order ulps aside, as ever)."""
    rows = sorted(rows, key=lambda r: r[0])
    x = np.array([[float(v) for v in r[1]] for r in rows], dtype="float64")
    c = x[:k].copy()
    for _ in range(max_iter):
        assign = _nearest_kernel([c])(x)[:, 0]
        new_c = c.copy()
        for j in range(k):
            members = x[assign == j]
            if len(members):
                new_c[j] = members.mean(axis=0)
        if np.array_equal(new_c, c):
            break
        c = new_c
    return [[float(v) for v in row] for row in c]


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    max_iter: int = 5,
    train_stride: int = 1,
) -> DataFrame:
    """IVF approximate top-k: coarse k-means quantizer, corpus partitioned
    into inverted lists by nearest centroid, queries probe their ``nprobe``
    nearest lists. Same output columns as brute_force_topk.

    Scale shape: training touches the corpus max_iter times (scan + tiny
    shuffle); serving is ONE corpus scan to assign lists, then an equi-join
    on the list id with the (small, broadcast) exploded query probes —
    scored candidates are ~corpus * nprobe / n_centroids per query. The
    centroid matrix is plan-time state (k*dim floats), not a stored model.
    Recall depends on how well the quantizer matches the data's cluster
    structure — measured against brute force in tests."""
    centroids = kmeans_centroids(
        corpus, vec_col=vec_col, id_col=id_col, k=n_centroids, max_iter=max_iter,
        train_stride=train_stride,
    )
    c = _assign_nearest(corpus, vec_col, centroids).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"),
        F.col("__cluster").alias("list_id"),
    )
    q = _probe_lists(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")),
        "q_vec", centroids, nprobe,
    )
    scored = (
        c.join(broadcast(q), "list_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", F.round(cosine_similarity("q_vec", "c_vec"), 6).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return scored.select("*", F.row_number().over(w).cast("long").alias("rk")).filter(F.col("rk") <= k)


# --- SRP sign-banding for embedding near-dup (engine + oracle-mirrorable) ---

def rademacher_signs(dim: int, plane: int, seed: int = 42) -> list[float]:
    """Deterministic ±1.0 hyperplane (Rademacher random signs — a valid SRP
    family). ±1.0 multiplication is EXACT in IEEE double, so an engine twin
    that folds the signed sum in the same element order reproduces the sign
    bit bit-for-bit — which is what lets the SQL oracle mirror the bucket
    assignment exactly instead of risking last-ulp sign flips."""
    out = []
    for d in range(dim):
        x = (plane * 1_000_003 + d * 19_349_663 + seed * 83_492_791) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 33
        x = (x * 0xFF51AFD7ED558CCD) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 33
        out.append(1.0 if x & 1 else -1.0)
    return out


def _sign_planes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    """The (n_planes x dim) rademacher_signs matrix."""
    return np.array([rademacher_signs(dim, p, seed) for p in range(n_planes)], dtype="float64")


def _band_keys_local(mat: np.ndarray, dim: int, n_bands: int, band_bits: int, seed: int) -> np.ndarray:
    """(n x n_bands) band keys of the rows of ``mat``: bit j of a band is
    the sign of the row's sum over ±1 plane band * band_bits + j (set when
    the sum is >= 0), weighted 1 << j. One BLAS matmul: with ±1.0
    coefficients every addend is exact, so a whole-corpus matmul on the
    driver, a per-batch one in _srp_postings and DuckDB's list_dot_product
    differ by ~1e-13 relative at most, far inside the 4.1e-5 minimum |sum|
    (srp_band_sql_keys), and every sign bit is the same."""
    sums = np.asarray(mat, dtype="float64").reshape(-1, dim) @ _sign_planes(dim, n_bands * band_bits, seed).T
    bits = (sums >= 0).reshape(-1, n_bands, band_bits).astype("int64")
    return bits @ (np.int64(1) << np.arange(band_bits, dtype="int64"))


def _srp_projections(mat: np.ndarray, dim: int, seed: int) -> np.ndarray:
    """(n x 2) projections of the rows of ``mat`` that the bucket cap's two
    windows order by: each row's sums over ±1 planes 0 and 1 (band 0's
    first two planes), rounded like ``F.round(x, 6)``. The SQL oracles
    round their own sums (plans/northstar.py, `proj`); the sums differ by
    summation order only (~1e-13), so the rank orders agree unless a sum
    sits that close to a rounding boundary, which scripts/rounding_margin.py
    measures per corpus (ROUNDING_MARGIN.json)."""
    planes = _sign_planes(dim, 2, seed)
    return round6_like_spark_array(np.asarray(mat, dtype="float64").reshape(-1, dim) @ planes.T)


def _srp_postings(vec: Column | str, dim: int, n_bands: int, band_bits: int, seed: int) -> Column:
    """Struct (keys, proj, proj2) per row: _band_keys_local's band keys and
    _srp_projections' two projections, in one Arrow-batched pandas UDF. It
    runs the driver's functions, so both placements of the candidate
    kernel read one definition of the keys and projections."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("keys array<long>, proj double, proj2 double")
    def _postings(v: pd.Series) -> pd.DataFrame:
        mat = np.stack(v.to_numpy())
        proj = _srp_projections(mat, dim, seed)
        keys = _band_keys_local(mat, dim, n_bands, band_bits, seed)
        return pd.DataFrame({"keys": list(keys), "proj": proj[:, 0], "proj2": proj[:, 1]})

    return _postings(F.col(vec) if isinstance(vec, str) else vec)


def srp_band_sql_keys(
    dim: int, *, n_bands: int = 8, band_bits: int = 4, seed: int = 42, vec: str = "embedding"
) -> list[str]:
    """DuckDB SQL expressions computing the same band keys as _band_keys_local:
    the same ±1 sign planes embedded as literals, with the dot product via
    native list_dot_product. Summation order may differ from Spark's
    left-fold, but with ±1.0 coefficients both engines sum the SAME exact
    addends, so the results differ by at most ~1e-13 relative — while the
    smallest |dot| across the whole test fixture is 4.1e-5 (measured over
    every (vector, plane) at sf0.001/0.01/0.1, 8 orders of magnitude of
    margin), so the sign bit — and therefore the bucket assignment and the
    candidate set — is identical across engines. That is what lets the
    catalog query keep a full value-hash oracle even though the prefilter
    is probabilistic: oracle and engine mirror the same deterministic
    bucket assignment."""
    exprs = []
    for band in range(n_bands):
        bits = []
        for j in range(band_bits):
            signs = rademacher_signs(dim, band * band_bits + j, seed)
            arr = "[" + ",".join("1.0" if s > 0 else "-1.0" for s in signs) + "]"
            dot = f"list_dot_product(CAST({vec} AS DOUBLE[]), {arr})"
            bits.append(f"(CASE WHEN {dot} >= 0 THEN {1 << j} ELSE 0 END)")
        exprs.append("(" + " + ".join(bits) + ")")
    return exprs


def srp_band_pairs(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str = "label",
    min_cosine: float = 0.35,
    dim: int = 64,
    n_bands: int = 8,
    band_bits: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Embedding near-dup pairs via SRP sign-banding: candidates share the
    block key AND at least one band of SRP sign bits (OR-construction over
    ``n_bands`` bands of ``band_bits`` hyperplanes); cosine verifies each
    candidate against ``min_cosine``.

    Plan shape: explode to (band, key) → equi-join on (block, band, key) →
    distinct pairs → verify. No all-pairs scan at any block size; candidate
    count per block is ~n_bands * s^2 / 2^band_bits vs s^2 for all-pairs,
    and AQE skew-splits hot buckets.

    RECALL (documented, probabilistic — unlike prefix filtering this
    prefilter is lossy by design): a pair at angle θ collides in one band
    with prob (1-θ/π)^band_bits, so overall recall is
    1 - (1 - (1-θ/π)^band_bits)^n_bands. With the defaults: ~0.98 at
    cosine 0.8, ~0.9996 at cosine 0.9 — the regime where true near-dups
    live — but only ~0.75 at the 0.35 decision boundary (the LSH exponent ρ
    approaches 1 as θ → 90°, so NO hash family prunes borderline-dissimilar
    pairs well; use the exact path for low thresholds). Measured recall on
    the test fixture is asserted in tests/test_operators.py.
    """
    pairs = _srp_candidate_pairs(
        df, vec_col=vec_col, id_col=id_col, block_col=block_col,
        dim=dim, n_bands=n_bands, band_bits=band_bits, seed=seed,
    )
    sides = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    # Arrow batch scoring, then threshold: keeping the cosine as a column
    # EXPRESSION gets it duplicated into the join condition and re-evaluated
    # per reference (the interpreted fold was ~4x the query's wall time);
    # the einsum path scores each candidate pair exactly once.
    pdf = route("pair_scorer", sides, arrow=True)
    return _score_pairs_for(pairs, sides, pdf).filter(F.col("cosine") >= min_cosine)


def _srp_candidate_pairs(
    df: DataFrame,
    *,
    vec_col: str,
    id_col: str,
    block_col: str,
    dim: int,
    n_bands: int,
    band_bits: int,
    seed: int,
    bucket_cap: int | None = None,
    cap_window: int = 64,
) -> DataFrame:
    """Distinct candidate id pairs (id_a < id_b) sharing the block key and
    at least one SRP sign band: the executor placement of the one candidate
    kernel, _srp_bucket_pairs, which the driver-local k-NN graph runs on the
    whole corpus. _srp_postings gives each row its band keys and two
    projections; ``posexplode`` turns them into narrow (id, block, proj,
    proj2, band, key) rows, so the vectors never travel with the postings
    (callers re-attach them to the much smaller candidate set); each
    (block, band, key) bucket runs the kernel in ``applyInPandas``, and one
    ``dropDuplicates`` merges the pairs that collide in several bands.

    Per-group state is bounded: a group holds the narrow rows of one
    bucket, B of them, and emits at most B(B-1)/2 pairs when B <=
    ``bucket_cap`` (or the cap is None) and at most 2 * ``cap_window`` * B
    pairs above it.

    ``bucket_cap`` bounds the quadratic term: over a corpus with tight
    near-duplicate clusters the bucket-size tail dominates, and band
    WIDENING cannot fix it (cluster members agree on every plane sign: the
    sf10 probe measured 2.95e9 pre-dedup pairs at the auto width and only
    -15% per extra bit, max bucket still ~6k at 16 bits). Each member of an
    oversized bucket therefore meets only its ``cap_window`` next members
    in two projection orders. Projection order, not id order, decides who a
    capped member still meets: a 1-D random-projection sort puts
    high-cosine mates at adjacent ranks, and the second independent order
    catches mates that sort far apart in the first (measured sf10 near-dup
    detection recall, scripts/knn_recall.py: id-order 0.36, single-proj
    0.48, dual-proj 0.70 against the 0.82 SRP-banding ceiling). The cap is
    part of the operator's approximate semantics (a deterministic
    candidate-recall bound, like n_bands / band_bits) and is mirrored
    verbatim in the SQL oracles; ``bucket_cap=None`` pairs every bucket in
    full."""
    if bucket_cap is not None and band_bits < 2:
        # The two orderings read band 0's planes 0 and 1; with band_bits=1
        # plane 1 is band 1's, which would silently diverge from the SQL
        # oracle's band-0/j-1 (NULL there). No registered query can reach
        # this (auto floors at 4), but the operator API could.
        raise ValueError(
            f"bucket_cap requires band_bits >= 2 (got {band_bits}): the dual "
            "projection orderings use band 0's first two plane sums"
        )
    postings = df.select(
        F.col(id_col).alias("id"), F.col(block_col).alias("block"),
        _srp_postings(vec_col, dim, n_bands, band_bits, seed).alias("p"),
    ).select("id", "block", "p.proj", "p.proj2", F.posexplode("p.keys").alias("band", "key"))
    id_type = postings.schema["id"].dataType

    def bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id")
        ids = pdf["id"].to_numpy()
        codes = _srp_bucket_pairs(
            pdf["key"].to_numpy(), pdf[["proj", "proj2"]].to_numpy(), bucket_cap, cap_window
        )
        a, b = np.divmod(codes, len(ids))
        return pd.DataFrame({"id_a": ids[a], "id_b": ids[b]})

    schema = StructType([StructField("id_a", id_type), StructField("id_b", id_type)])
    # the postings are narrow, so AQE would coalesce their shuffle onto one
    # task and run every bucket's kernel in one Python worker; an explicit
    # partition count keeps one task per core (the groupBy reuses it)
    par = df.sparkSession.sparkContext.defaultParallelism
    return (
        postings.repartition(par, "block", "band", "key")
        .groupBy("block", "band", "key")
        .applyInPandas(bucket_pairs, schema)
        .dropDuplicates(["id_a", "id_b"])
    )


def _srp_bucket_pairs(
    keys: np.ndarray, proj: np.ndarray, bucket_cap: int | None, cap_window: int
) -> np.ndarray:
    """The candidate kernel: codes i * n + j of one band's candidate pairs
    i < j over n rows in id order, row i with band key ``keys[i]`` and
    rounded projections ``proj[i]`` (_srp_projections' two columns). A
    bucket (the rows of one key) of B <= ``bucket_cap`` members, or any
    bucket when the cap is None, pairs in full. Each member of a larger
    bucket pairs with its ``cap_window`` next members in (proj[:, 0], id)
    order and in (proj[:, 1], id) order. This is the rule the SQL oracles
    mirror (plans/northstar.py, `sized` and `cand`). The driver runs it per
    band over the whole corpus (_knn_graph_local), the executors per
    (block, band, key) group (_srp_candidate_pairs); a pair found in both
    orders, or in several bands, is the caller's to deduplicate."""
    n = len(keys)
    order = np.argsort(keys, kind="stable")
    if bucket_cap is None:
        return _forward_pairs(order, keys, n, n)
    _, inverse, counts = np.unique(keys, return_inverse=True, return_counts=True)
    big = counts[inverse] > bucket_cap
    parts = [_forward_pairs(order[~big[order]], keys, n, n)]
    if big.any():
        row = np.arange(n)
        for p in proj.T:
            by_proj = np.lexsort((row, p, keys))
            parts.append(_forward_pairs(by_proj[big[by_proj]], keys, cap_window, n))
    return np.concatenate(parts)


def _forward_pairs(order: np.ndarray, keys: np.ndarray, limit: int, n: int) -> np.ndarray:
    """Codes min * n + max pairing each row of ``order`` (row indices, rows
    of one key adjacent) with the next ``limit`` rows of its key, enumerated
    without a Python loop."""
    sk = keys[order]
    starts = np.flatnonzero(np.r_[True, sk[1:] != sk[:-1]])
    fan = _fans(np.diff(np.r_[starts, len(order)]), limit)
    left = np.repeat(np.arange(len(order)), fan)
    step = np.arange(len(left)) - np.repeat(np.cumsum(fan) - fan, fan) + 1
    a, b = order[left], order[left + step]
    return np.minimum(a, b) * n + np.maximum(a, b)


def _fans(sizes: np.ndarray, limit: int) -> np.ndarray:
    """For each member of runs of ``sizes`` members, in run order: how many
    later members of its run it pairs with, at most ``limit``."""
    rank = np.arange(sizes.sum()) - np.repeat(np.cumsum(sizes) - sizes, sizes)
    return np.minimum(np.repeat(sizes, sizes) - 1 - rank, limit)


def _srp_pair_count(keys: np.ndarray, bucket_cap: int, cap_window: int) -> int:
    """How many pairs _srp_bucket_pairs emits over the bands (columns) of
    ``keys`` before deduplication, from the bucket sizes alone."""
    total = 0
    for band in keys.T:
        sizes = np.unique(band, return_counts=True)[1]
        big = sizes > bucket_cap
        total += int(_fans(sizes[~big], len(band)).sum()) + 2 * int(_fans(sizes[big], cap_window).sum())
    return total


def _score_pairs_arrow(pairs_with_vecs: DataFrame) -> DataFrame:
    """Batch-score candidate pairs with numpy (Arrow transfer): one einsum
    per batch instead of one interpreted fold per pair — the mandated
    vectorized-UDF shape for bulk per-pair vector math (~10-50× the
    expression path on 10^6 pairs). The UDF emits the RAW cosine and the
    6dp rounding is applied with F.round on the output column, so every
    scorer in the module (and the DuckDB ROUND oracles) shares ONE decimal
    rounding definition — np.round's scale-then-ties-to-even could disagree
    with F.round in the 6th decimal for cosines near a .5e-6 boundary.
    numpy's pairwise summation differs from the left-fold only in the last
    ulp, which the shared rounding absorbs (same argument as the DuckDB
    list_* kernels, already hash-verified). Output id columns keep the
    input's id dtypes (string doc ids work, not just longs)."""

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            va = np.stack(pdf["vec_a"].to_numpy()).astype("float64")
            vb = np.stack(pdf["vec_b"].to_numpy()).astype("float64")
            yield _with_cosine(pdf, va, vb)

    return _scored_pairs(pairs_with_vecs, score)


def _cosine_batch(va: np.ndarray, vb: np.ndarray) -> np.ndarray:
    """The one pair-cosine kernel every scorer runs: the raw cosine of each
    row-aligned pair of float64 vectors ``va``/``vb`` (NaN for a zero
    vector). The 6dp rounding is NOT applied here — the Spark scorers round
    with F.round and the driver-local k-NN graph with its mirror, so every
    scorer shares the DuckDB ROUND definition."""
    dots = np.einsum("ij,ij->i", va, vb)
    na = np.sqrt(np.einsum("ij,ij->i", va, va))
    nb = np.sqrt(np.einsum("ij,ij->i", vb, vb))
    with np.errstate(invalid="ignore", divide="ignore"):
        return dots / (na * nb)


def _with_cosine(pdf, va, vb):
    """(id_a, id_b, raw cosine) for one Arrow batch of pairs."""
    out = pdf[["id_a", "id_b"]].copy()
    out["cosine"] = _cosine_batch(va, vb)
    return out


def _scored_pairs(pairs: DataFrame, score) -> DataFrame:
    """Run a _with_cosine generator over ``pairs`` and round the cosine to
    6dp; output id columns keep the input's id dtypes."""
    in_schema = pairs.schema
    out_schema = StructType(
        [in_schema["id_a"], in_schema["id_b"], StructField("cosine", DoubleType())]
    )
    scored = pairs.mapInPandas(score, out_schema)
    return scored.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


# knn_graph's bucket-size cap (shared with the SQL oracles in
# plans/northstar.py so engine and oracle stay one definition): buckets over
# KNN_BUCKET_CAP members pair each member with only its KNN_CAP_WINDOW
# forward neighbors in EACH of two independent projection orders. The cap
# exceeds the largest measured bucket at every oracle/parity scale through
# sf1 (1431), so it only engages at >= sf10. The window default sits at the
# measured knee of the sf10 recall/cost curve (scripts/knn_recall.py;
# near-dup detection recall vs the 0.818 SRP ceiling): id-order single-64
# 0.477, dual-proj 64 0.591, dual-proj 128 0.705 @ 2.4x the r12 capped-pair
# budget, dual-proj 256 0.750 @ 4.8x — 128 buys 86% of the ceiling before
# the curve flattens.
KNN_BUCKET_CAP = 2048
KNN_CAP_WINDOW = 128


def _score_pairs_closure(pairs: DataFrame, pdf) -> DataFrame:
    """Score (id_a, id_b) candidate pairs WITHOUT attaching vectors to them:
    the whole (id, vec) corpus ``pdf``, fetched by the ``pair_scorer``
    route, rides to executors in the task closure and each Arrow batch
    gathers its rows by binary search. Candidates are narrow (two ids), so
    the shuffle + Arrow payload drops from 2·dim floats per pair to 16 bytes
    per pair (~30x at dim=64) — measured 2.2 s -> 0.6 s on the 622k-pair
    knn_graph scoring step at sf0.1.

    The kernel (_cosine_batch) and the final F.round are shared with
    _score_pairs_arrow, so the two paths emit the same cosines and the
    DuckDB oracles hold for either."""
    ids_sorted, mat = _id_sorted(pdf)

    # The matrix rides in the python command (re-shipped per task, bounded
    # by the pair_scorer route), not in a SparkContext.broadcast: that
    # measured 36% slower on q_knn_graph at sf1 (r15).
    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ia = np.searchsorted(ids_sorted, pdf["id_a"].to_numpy())
            ib = np.searchsorted(ids_sorted, pdf["id_b"].to_numpy())
            yield _with_cosine(pdf, mat[ia], mat[ib])

    return _scored_pairs(pairs, score)


def _id_sorted(pdf) -> tuple[np.ndarray, np.ndarray]:
    """A fetched (id, vec) corpus as (ids ascending, float64 row matrix in
    that order). The Arrow fetch lands vectors as numpy float32 cells, and
    the float32 -> float64 widening is exact."""
    ids = pdf.iloc[:, 0].to_numpy()
    order = np.argsort(ids)
    mat = np.array(
        [np.asarray(v, dtype="float64") for v in pdf.iloc[:, 1]], dtype="float64"
    )
    return ids[order], mat[order]


def _score_pairs_for(pairs: DataFrame, sides: DataFrame, pdf) -> DataFrame:
    """Score candidate pairs: ``pdf`` is ``route("pair_scorer", sides,
    arrow=True)``, the complete (id, vec) corpus when it fits the closure
    budget, scored by _score_pairs_closure; when it is None the vectors
    are re-attached by id joins and scored via the Arrow batch path."""
    if pdf is not None:
        return _score_pairs_closure(pairs, pdf)
    with_vecs = pairs.join(
        sides.select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a")), "id_a"
    ).join(sides.select(F.col("id").alias("id_b"), F.col("vec").alias("vec_b")), "id_b")
    return _score_pairs_arrow(with_vecs)


def auto_band_bits(n: int, target_bucket: int = 125) -> int:
    """knn_graph's ``band_bits="auto"`` width for an ``n``-vector corpus:
    ``max(4, ceil(log2(n / target_bucket)))``."""
    return max(4, math.ceil(math.log2(max(1, n) / target_bucket)))


def knn_graph(
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 3,
    dim: int = 64,
    n_bands: int = 8,
    band_bits: int | str = 4,
    seed: int = 42,
    target_bucket: int = 125,
    bucket_cap: int = KNN_BUCKET_CAP,
    cap_window: int = KNN_CAP_WINDOW,
) -> DataFrame:
    """Approximate k-NN graph over the WHOLE corpus: each vector's top-k
    neighbors among SRP band-collision candidates — the building block of
    SemDeDup-style semantic dedup and graph-based ANN index construction.

    Differs from the query-serving paths (brute_force_topk / srp_topk /
    ivf_topk take a small query set) in that every corpus vector is a query:
    candidates are the same sign-band collisions as srp_band_pairs' (no
    block restriction), each undirected candidate pair is scored once, then
    mirrored into both directions and ranked per source. Candidate count is
    ~n_bands * n^2 / 2^band_bits per band bucket instead of n^2 — and the
    same deterministic ±1 planes keep the whole thing oracle-mirrorable.
    Output: (src, nbr, cosine, rk<=k).

    One candidate kernel, _srp_bucket_pairs, runs in one of two places.
    The ``pair_scorer`` route fetches the (id, vec) corpus; when it holds
    the whole corpus the driver derives the band keys and counts the pairs
    the kernel would emit before deduplication (_srp_pair_count: B(B-1)/2
    per bucket of B <= ``bucket_cap``, the window pairs above it). Within
    the ``knn_pairs`` bound ``_knn_graph_local`` runs the kernel once per
    band, scores and ranks in numpy, and returns the graph as a local
    relation, so nothing downstream re-runs a k-NN plan: below a size
    bound distributed execution is scheduling overhead (McSherry et al.,
    "Scalability! But at what COST?", HotOS 2015). Otherwise
    ``_srp_candidate_pairs`` runs the same kernel per (band, key) group on
    the executors, then the routed scorer and a window per src. Both
    placements widen float32 cells to float64, take keys and projections
    from the same functions, score with ``_cosine_batch`` and round like
    ``F.round(x, 6)``, so they emit the same rows.

    Scoring is numpy batches, not the column-expression fold: the graph
    build scores EVERY candidate pair (~10^6 at n=2000 already), and one
    einsum per batch is 10-50× the interpreted fold.

    ``band_bits="auto"`` derives the bucket width from a corpus count
    probe: ``max(4, ceil(log2(n / target_bucket)))``, keeping the expected
    bucket occupancy near ``target_bucket`` vectors at ANY corpus size. A
    FIXED band_bits saturates: candidates grow ~n²/2^band_bits, and the
    sf1 scale probe measured exactly that — a 10× corpus against
    band_bits=4's 16 buckets/band turned the pair-scoring stage into a
    >10-minute single-straggler quadratic blowup. The derivation is part
    of the operator's semantics (buckets change when the derived width
    changes), and it intentionally lands on 4 — the historical pinned
    value — for every oracle/parity corpus up to sf0.1, so the static SQL
    oracles keep mirroring the bucket assignment bit-for-bit there.

    ``bucket_cap``/``cap_window`` bound the OTHER quadratic: band width
    controls the EXPECTED bucket size, but a clustered corpus concentrates
    near-identical vectors into buckets no extra bit can split (their
    plane signs all agree), and sum-of-B^2 over that tail — not E[B] —
    drives the pair count. The sf10 probe (200k vectors) measured 2.95e9
    pre-dedup pairs at the auto width (max bucket 9.6k vs expected 98) and
    only ~15%/bit relief out to 16 bits; the uncapped build GC-thrashed an
    8g heap in the candidate dedup. Buckets over ``bucket_cap`` therefore
    pair each member with only its ``cap_window`` forward neighbors in
    each of two PROJECTION orders (deterministic, SQL-mirrored, linear in
    postings) — the 1-D projection sorts put a member's high-cosine mates
    at adjacent ranks, so the windows keep the mates that matter. The
    first cut of the cap used vec-id order; scripts/knn_recall.py measured
    its sf10 near-dup detection recall at 0.36 (id-neighbors in a
    hash-degenerate mega-bucket are random vectors) and the retune curve
    landed on dual-projection windows of 128 at 0.70 vs the 0.82 SRP
    ceiling (full curve at KNN_CAP_WINDOW). Diverse candidates still
    arrive via the other bands' sub-cap buckets. The default cap exceeds
    the largest measured bucket at every oracle/parity scale through sf1
    (1431), so outputs below sf10 scale are bit-identical to the uncapped
    build."""
    sides = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    pdf = route("pair_scorer", sides, arrow=True)
    if band_bits == "auto":
        # under the bound the scorer's fetch holds every row
        band_bits = auto_band_bits(len(pdf) if pdf is not None else corpus.count(), target_bucket)
    if pdf is not None:
        ids, mat = _id_sorted(pdf)
        keys = _band_keys_local(mat, dim, n_bands, band_bits, seed)
        if fits("knn_pairs", _srp_pair_count(keys, bucket_cap, cap_window)):
            proj = _srp_projections(mat, dim, seed)
            return _knn_graph_local(sides, ids, mat, keys, proj, k, bucket_cap, cap_window)
    tagged = corpus.withColumn("__blk", F.lit(1))
    cand = _srp_candidate_pairs(
        tagged, vec_col=vec_col, id_col=id_col, block_col="__blk",
        dim=dim, n_bands=n_bands, band_bits=band_bits, seed=seed,
        bucket_cap=bucket_cap, cap_window=cap_window,
    )
    pairs = _score_pairs_for(cand, sides, pdf)
    # End the Python scoring stage at a shuffle write: without it, Spark 4's
    # WindowGroupLimit pushdown plants a local sort in the SAME task that
    # drains the Python runner, and at sf10 (99M scored pairs, 32 concurrent
    # runner+sort pipelines in one 8g heap) the drain stalled long enough
    # for worker output sockets to hit TCP timeouts and kill the job. With
    # the exchange, the Python stage is a pure map stage and the partial
    # top-k sort runs on plain shuffled rows. The mirror is one generator
    # over one scan, not a self-union: the two union branches' plans hold
    # different attribute ids under the Python nodes, so AQE reused no
    # exchange and ran the key UDF, the kernel and the scorer twice.
    pairs = pairs.repartition("id_a", "id_b")
    sym = pairs.select(
        F.inline(F.array(
            F.struct(F.col("id_a").alias("src"), F.col("id_b").alias("nbr")),
            F.struct(F.col("id_b").alias("src"), F.col("id_a").alias("nbr")),
        )),
        "cosine",
    )
    w = Window.partitionBy("src").orderBy(F.col("cosine").desc(), F.col("nbr"))
    return sym.select("*", F.row_number().over(w).cast("long").alias("rk")).filter(F.col("rk") <= k)


# pairs scored per gather in _knn_graph_local: 2 x 8k rows of dim-64
# float64 are 8 MB, which stays in cache (64k-pair gathers ran 2.7x slower)
_KNN_SCORE_CHUNK = 1 << 13
# sort slots of a 6dp cosine in [-1, 1]: 1e6 - cosine * 1e6, so a smaller
# slot is a larger cosine; NaN takes the last slot
_COS_SLOTS = 2_000_002


def _knn_graph_local(
    sides: DataFrame, ids: np.ndarray, mat: np.ndarray, keys: np.ndarray, proj: np.ndarray,
    k: int, bucket_cap: int, cap_window: int,
) -> DataFrame:
    """knn_graph's driver-local twin over the id-sorted corpus ``ids``/``mat``
    (fetched from ``sides``), its band ``keys`` and projections ``proj``:
    (src, nbr, cosine, rk) as a local relation, with the distributed twin's
    arithmetic.

    Candidates are the row-index pairs i < j (so id_a < id_b) that
    _srp_bucket_pairs emits in any band, deduplicated as int64 codes
    i * n + j. Each is scored once by _cosine_batch over bounded gathers
    and rounded like F.round. A zero vector's NaN cosine is NULL, as the
    Spark scorers' Arrow crossing makes it. Both directions of every pair
    are packed into one int64 sort key (src, cosine slot, nbr), so one sort
    orders each src's neighbors by (cosine desc with NULL last, nbr asc),
    as the distributed window does, and the top k are read at each src's
    offset. ``n`` is within the
    pair_scorer bound, so n * n * _COS_SLOTS stays far inside int64."""
    n = len(ids)
    pairs = [_srp_bucket_pairs(band, proj, bucket_cap, cap_window) for band in keys.T]
    a, b = np.divmod(np.unique(np.concatenate(pairs)), n)
    slot = np.empty(len(a), dtype="int64")
    for s in range(0, len(a), _KNN_SCORE_CHUNK):
        e = s + _KNN_SCORE_CHUNK
        cos = round6_like_spark_array(_cosine_batch(mat[a[s:e]], mat[b[s:e]]))
        slot[s:e] = np.where(np.isnan(cos), _COS_SLOTS - 1, 1_000_000 - np.rint(cos * 1e6))
    packed = np.concatenate([(a * _COS_SLOTS + slot) * n + b, (b * _COS_SLOTS + slot) * n + a])
    del a, b, slot
    packed.sort()
    starts = np.searchsorted(packed, np.arange(n + 1, dtype="int64") * (_COS_SLOTS * n))
    take = starts[:-1, None] + np.arange(k)
    take = take[take < starts[1:, None]]
    src, rest = np.divmod(packed[take], _COS_SLOTS * n)
    slot, nbr = np.divmod(rest, n)
    cosine = [None if q == _COS_SLOTS - 1 else (1_000_000 - q) / 1e6 for q in slot.tolist()]
    rk = take - starts[src] + 1
    rows = list(zip(ids[src].tolist(), ids[nbr].tolist(), cosine, rk.tolist()))
    id_type = sides.schema["id"].dataType
    schema = StructType([
        StructField("src", id_type), StructField("nbr", id_type),
        StructField("cosine", DoubleType()), StructField("rk", LongType()),
    ])
    return local_frame(sides.sparkSession, rows, schema)


# --- IVF lists: nearest-list assignment, residuals, nprobe ranking ---------

def _assign_nearest(df: DataFrame, vec_col: str, centroids: list[list[float]]) -> DataFrame:
    """Attach __cluster = index of the nearest centroid (squared L2)."""
    return df.withColumn("__cluster", F.element_at(_pq_assign_codes(vec_col, [centroids]), 1))


def _matrix_lit(matrix: list[list[float]]) -> Column:
    """array<array<double>> literal built as ONE parsed SQL expression.
    Constructing it as nested F.array(F.lit(...)) costs one py4j round trip
    per element — ~0.7 s of DRIVER wall for a 16x64 coarse-centroid matrix
    (measured r14), paid once per index build AND once per serve; the
    single F.expr parse is ~5 ms. repr(float) is the shortest round-trip
    decimal and CAST('<repr>' AS DOUBLE) re-parses it to identical bits
    (verified bitwise incl. -0.0 and subnormals), so the evaluated plan
    values are unchanged."""
    return F.expr(
        "array(" + ",".join(
            "array(" + ",".join(f"CAST('{float(v)!r}' AS DOUBLE)" for v in row) + ")"
            for row in matrix
        ) + ")"
    )


def _residual(vec: Column, list_id: Column, coarse: list[list[float]]) -> Column:
    """vec − coarse[list_id], elementwise in float64 against the centroid
    matrix literal: one column expression, no scan or join."""
    return F.zip_with(
        vec, F.element_at(_matrix_lit(coarse), list_id + 1), lambda a, b: a.cast("double") - b
    )


def _inverted_lists(df: DataFrame, coarse: list[list[float]], residual: bool) -> DataFrame:
    """(id, vec) → (id, vec, list_id): each vector's nearest coarse list,
    with ``vec`` replaced by its residual to that list's centroid when
    ``residual``. The encoding source of an IVF-PQ index."""
    assigned = _assign_nearest(df, "vec", coarse).select(
        "id", "vec", F.col("__cluster").alias("list_id")
    )
    if not residual:
        return assigned
    return assigned.select(
        "id", _residual(F.col("vec"), F.col("list_id"), coarse).alias("vec"), "list_id"
    )


def _residual_rows_local(rows: list, centroids: list[list[float]]) -> list:
    """Driver-side twin of _inverted_lists' residual for an
    already-collected (id, vec) sample: the same _nearest_kernel
    assignment, then the assigned centroid subtracted elementwise in
    float64 (the _residual op). Same machine, same numpy, same op order ⇒
    the rows are bit-identical to a bounded collect of the engine's
    residual frame, without the extra scan+collect job per residual index
    build (r15)."""
    ids = [r[0] for r in rows]
    x = np.array([[float(v) for v in r[1]] for r in rows], dtype="float64")
    c = np.array(centroids, dtype="float64")
    res = x - c[_nearest_kernel([centroids])(x)[:, 0]]
    return [(i, row.tolist()) for i, row in zip(ids, res)]


def _probe_lists(queries: DataFrame, vec: str, coarse: list[list[float]], nprobe: int) -> DataFrame:
    """``queries`` with one row per probed list (column ``list_id``): the
    ``nprobe`` coarse lists whose centroids score highest
    (<q,c> - |c|^2/2 descending, ties to the higher list index) — the
    ranking the oracle chains mirror."""
    cols = queries.columns
    scores = F.zip_with(
        F.col("__dots"), F.array(*[F.lit(h) for h in _half_norms(coarse)]), lambda d, h: d - h
    )
    ranked = F.transform(scores, lambda s, i: F.struct(s.alias("score"), i.cast("int").alias("idx")))
    probes = F.slice(F.reverse(F.array_sort(ranked)), 1, nprobe)
    return (
        queries.withColumn("__dots", matrix_dots(vec, coarse))
        .select(*cols, F.explode(probes).alias("__p"))
        .select(*cols, F.col("__p.idx").alias("list_id"))
    )


# --- PQ: product quantization, alone and under IVF lists (IVF-PQ) ----------

def _sub_width(dim: int, n_subspaces: int) -> int:
    """Width of each of ``n_subspaces`` contiguous subspaces of a ``dim``
    vector; raises rather than drop trailing dimensions."""
    if dim % n_subspaces:
        raise ValueError(
            f"dim={dim} not divisible by n_subspaces={n_subspaces}: the trailing "
            f"{dim % n_subspaces} dimensions would be silently dropped from every code"
        )
    return dim // n_subspaces


def pq_codes(
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    n_subspaces: int = 8,
    n_centroids: int = 16,
    max_iter: int = 2,
    train_stride: int = 1,
    codebooks: list[list[list[float]]] | None = None,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Product-quantization codes (Jégou et al., TPAMI'11): split each
    vector into ``n_subspaces`` contiguous sub-vectors, train an independent
    deterministic k-means codebook per subspace (same bounded trainer as the
    IVF quantizer — stride-sampled, driver-local under the probe bound),
    and emit each vector's per-subspace nearest-centroid code plus the
    packed code word. At n_subspaces=8, n_centroids=16 a 256-byte float32
    vector compresses to a 4-byte code word (64x) — the memory layout an
    ANN index at 100 TB actually serves from.

    Serving is ONE corpus scan: all n_subspaces assignments are one fused
    Arrow column (_pq_assign_codes against the codebooks) — no joins.
    Training is _train_codebooks on the stride sample: one bounded fetch,
    then numpy per subspace, or over the bound one distributed loop for
    all subspaces.

    Output: (id, c0..c{S-1} int codes, pq_code packed long, *passthrough),
    fully mirrorable by per-subspace unrolled-CTE oracles (q_embed_pq).
    ``passthrough`` columns of the input ride along unchanged — e.g. a
    precomputed inverted-list id — so callers composing codes with other
    per-vector state don't pay a self-join to re-attach it.
    """
    _sub_width(dim, n_subspaces)
    bits = max(1, (n_centroids - 1).bit_length())
    df = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec"), *passthrough
    )
    if codebooks is None:
        train = _stride_sample(df.select("id", "vec"), "id", train_stride)
        codebooks = _train_codebooks(
            train, route("kmeans_sample", train), n_centroids, max_iter, n_subspaces
        )
    df = df.withColumn("__codes", _pq_assign_codes(F.col("vec"), codebooks))
    code_cols = [
        F.element_at("__codes", s + 1).alias(f"c{s}") for s in range(n_subspaces)
    ]
    packed = F.lit(0).cast("long")
    for s in range(n_subspaces):
        packed = packed.bitwiseOR(
            F.shiftleft(F.element_at("__codes", s + 1).cast("long"), s * bits)
        )
    return df.select(
        F.col("id").alias(id_col), *code_cols, packed.alias("pq_code"), *passthrough
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    n_subspaces: int = 8,
    n_centroids: int = 16,
    max_iter: int = 2,
    train_stride: int = 1,
    k: int = 5,
) -> DataFrame:
    """Approximate top-k via PQ asymmetric distance computation (ADC —
    Jégou et al., TPAMI'11): the corpus is stored ONLY as PQ codes; each
    query precomputes one distance table per subspace (squared L2 from its
    sub-vector to every codebook centroid) and a candidate's distance is
    the sum of n_subspaces table lookups — never touching the original
    corpus vectors. This is the memory half of the billion-scale ANN
    recipe (IVF partitions, PQ compresses; the two compose).

    Plan shape: one corpus scan emitting codes (pq_codes); the per-query
    distance tables are computed on-plan (_pq_dist_tables) and carried as
    a DataFrame keyed (query_id, subspace, centroid), equi-joined to the
    long-format codes on (subspace, code) — nothing per query touches the
    driver, so the query set has no size cap. The tables side is
    |queries| * n_subspaces * n_centroids rows (128 per query at 8x16);
    the join key has only n_subspaces * n_centroids distinct values, AQE
    skew-join splits the big matches, and the per-(query, neighbor) sum
    partially aggregates map-side. Full ADC is inherently |corpus| *
    |queries| work in the compressed domain — at production scale compose
    with IVF pruning (ivf_pq_topk) for sublinear candidates. The SQL
    oracle reproduces the tables from the unrolled-k-means CTEs
    (q_ann_pq_adc).

    Output: (query_id, neighbor_id, adc_dist rounded 6dp, rk<=k);
    deterministic ties (adc_dist asc, neighbor_id asc).
    """
    train = _stride_sample(
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")), "id", train_stride
    )
    codebooks = _train_codebooks(
        train, route("kmeans_sample", train), n_centroids, max_iter, n_subspaces
    )
    codes = pq_codes(
        corpus, vec_col=vec_col, id_col=id_col, dim=dim,
        n_subspaces=n_subspaces, n_centroids=n_centroids,
        max_iter=max_iter, train_stride=train_stride, codebooks=codebooks,
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec"))
    scored = _adc_scored(codes, q, codebooks, id_col=id_col)
    return _top_per_query(scored, "adc_dist", k)


def _pq_dist_tables(vec: Column | str, codebooks: list[list[list[float]]], sub: int) -> Column:
    """ALL n_subspaces ADC distance tables in ONE Arrow crossing, as an
    array<array<double>> column (subspace-major) — one column instead of
    a per-subspace withColumn loop, for the same driver-wall reason as
    _pq_assign_codes. Per subspace the table is ((b - m)**2).sum(axis=2):
    a float64 numpy broadcast of each query's contiguous sub-vector slice
    against that subspace's codebook."""
    from pyspark.sql.functions import pandas_udf

    mats = [np.array(cb, dtype="float64") for cb in codebooks]  # (k, sub)

    @pandas_udf("array<array<double>>")
    def _tables(v: pd.Series) -> pd.Series:
        b = np.stack(v.to_numpy()).astype("float64")  # (batch, dim)
        per_sub = []
        for s, m in enumerate(mats):
            sl = np.ascontiguousarray(b[:, s * sub:(s + 1) * sub])
            per_sub.append(((sl[:, None, :] - m[None, :, :]) ** 2).sum(axis=2))
        stacked = np.stack(per_sub, axis=1)  # (batch, n_subspaces, k)
        # tolist(): exact float64 -> Python float -> Arrow double round trip
        return pd.Series(stacked.tolist())

    return _tables(F.col(vec) if isinstance(vec, str) else vec)


def _adc_sum_fixed_order() -> Column:
    """Order-independent ADC distance aggregate for _adc_scored: the
    per-subspace lookup terms are collected as (subspace, dist) structs,
    sorted by subspace, and folded left-to-right — so the float64 additions
    happen in FIXED subspace order no matter how the shuffle partitioned
    the rows. A bare ``F.sum`` accumulates in partition-arrival order, which
    is not bitwise-deterministic across runs/cluster layouts and could flip
    a 6dp rounding knife-edge. collect_list
    still partially aggregates map-side (list concat), and the state is
    n_subspaces structs per (query, neighbor) — bounded."""
    return F.round(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("__s", "__d"))),
            F.lit(0.0),
            lambda acc, x: acc + x["__d"],
        ),
        6,
    )


def _adc_scored(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    *,
    id_col: str,
    keys: tuple[str, ...] = (),
) -> DataFrame:
    """The one ADC scoring core behind pq_adc_topk and ivfpq_serve:
    ``queries`` (query_id, *keys, __qvec) become on-plan distance tables
    in long format (query_id, *keys, __s, __code, __d), equi-joined to the
    codes exploded to (neighbor_id, *keys, __s, __code), and summed per
    (query, neighbor) in fixed subspace order. ``keys=("list_id",)`` puts
    the IVF pruning inside the join key. Output: (query_id, neighbor_id,
    adc_dist rounded 6dp), self-matches excluded."""
    n_subspaces, sub = len(codebooks), len(codebooks[0][0])
    tables = queries.select(
        "query_id", *keys,
        F.posexplode(_pq_dist_tables(F.col("__qvec"), codebooks, sub)).alias("__s", "__dists"),
    ).select("query_id", *keys, "__s", F.posexplode("__dists").alias("__code", "__d"))
    codes_long = codes.select(
        F.col(id_col).alias("neighbor_id"), *keys,
        F.posexplode(F.array(*[F.col(f"c{s}") for s in range(n_subspaces)]))
        .alias("__s", "__code"),
    )
    return (
        codes_long.join(tables, [*keys, "__s", "__code"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(_adc_sum_fixed_order().alias("adc_dist"))
    )


def _top_per_query(scored: DataFrame, score: str, k: int, *, desc: bool = False) -> DataFrame:
    """row_number() <= k per query_id by ``score`` (ascending unless
    ``desc``), ties to the lower neighbor_id; rk is a long."""
    order = F.col(score).desc() if desc else F.col(score).asc()
    w = Window.partitionBy("query_id").orderBy(order, F.col("neighbor_id"))
    return scored.select("*", F.row_number().over(w).cast("long").alias("rk")).filter(
        F.col("rk") <= k
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    n_lists: int = 16,
    nprobe: int = 4,
    coarse_iter: int = 3,
    coarse_stride: int = 1,
    n_subspaces: int = 8,
    pq_centroids: int = 16,
    pq_iter: int = 2,
    pq_stride: int = 1,
    k: int = 5,
    residual: bool = False,
    refine: int = 0,
) -> DataFrame:
    """IVF+PQ: the composed billion-scale ANN serving recipe (Jégou et al.
    — coarse inverted lists prune the corpus, PQ asymmetric distance ranks
    the survivors from 4-byte codes). Queries probe their ``nprobe``
    nearest coarse lists; candidates in those lists are ranked by the sum
    of per-subspace distance-table lookups through their PQ codes — the
    original corpus vectors are touched only at index-build time.

    ``residual=False`` is plain PQ — codes quantize the raw vectors, which
    keeps every stage individually oracle-mirrorable (q_ann_ivfpq composes
    the VALIDATED coarse chain of q_ann_ivf with the VALIDATED subspace
    chains of q_ann_pq_adc).

    ``residual=True`` is the production recipe (IVFADC, Jégou et al. §IV):
    codebooks train on (vec - coarse_centroid[list]) so the PQ budget is
    spent on the variance the coarse quantizer did NOT explain, and each
    query builds one distance table per PROBED LIST from its own residual
    to that list's centroid. Same serving plan — one corpus scan to
    (id, list, codes), on-plan per-(query, list) tables, n_subspaces
    lookups per candidate — with strictly better recall per code byte.
    Oracle-mirrored by q_ann_ivfpq_res (residual CTE + long-format
    k-means chains).

    ``refine=R`` (IVFADC+R, Jégou et al. §V): keep the top-R ADC
    candidates per query, then re-rank ONLY those R rows with the exact
    cosine against the raw vectors. The refinement join touches R rows per
    query (shortlist vs one corpus scan), so the 100 TB shape is
    unchanged, and recall recovers to the coarse stage's ceiling — ADC
    ordering noise inside the shortlist no longer costs recall (measured:
    the fixture's recall@5 roughly doubles at R=50; see
    test_ann_ivfpq_residual_refine_recall).

    Output: (query_id, neighbor_id, adc_dist rounded 6dp, rk<=k);
    with ``refine``, (query_id, neighbor_id, cosine rounded 6dp, rk<=k).

    Implementation = build_ivfpq_index + ivfpq_serve: the index (codes +
    quantizers) is a first-class artifact that can be persisted with
    save_ivfpq_index and served later from load_ivfpq_index — the
    build-once / serve-many lifecycle a real deployment runs.
    """
    index_codes, meta = build_ivfpq_index(
        corpus, vec_col=vec_col, id_col=id_col, dim=dim, n_lists=n_lists,
        coarse_iter=coarse_iter, coarse_stride=coarse_stride,
        n_subspaces=n_subspaces, pq_centroids=pq_centroids,
        pq_iter=pq_iter, pq_stride=pq_stride, residual=residual,
    )
    return ivfpq_serve(
        index_codes, meta, queries, vec_col=vec_col, k=k, nprobe=nprobe,
        refine=refine, corpus=corpus if refine else None,
    )


def build_ivfpq_index(
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    n_lists: int = 16,
    coarse_iter: int = 3,
    coarse_stride: int = 1,
    n_subspaces: int = 8,
    pq_centroids: int = 16,
    pq_iter: int = 2,
    pq_stride: int = 1,
    residual: bool = False,
) -> tuple[DataFrame, dict]:
    """Index half of IVF+PQ: train the quantizers, then encode the corpus
    with them through ivfpq_append — one corpus scan to (id, c0..,
    pq_code, list_id). Returns (codes, meta); meta carries the coarse
    centroids, PQ codebooks and hyperparameters — everything ivfpq_serve
    needs, and what save_ivfpq_index persists."""
    df = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    # The one kmeans_sample route here also decides the PQ training below
    # when the strides match: the PQ sample is then the same rows (or their
    # residuals), so it fits exactly when the coarse sample does.
    train = _stride_sample(df, "id", coarse_stride)
    sample = route("kmeans_sample", train)
    coarse = _train_codebooks(train, sample, n_lists, coarse_iter, 1)[0]
    if sample is not None and pq_stride == coarse_stride:
        # the residuals are computed on the driver with the engine's own
        # kernel, bit-identical to fetching the engine's residual frame,
        # without that scan; no training frame is needed
        pq_train, pq_sample = None, _residual_rows_local(sample, coarse) if residual else sample
    else:
        pq_train = _stride_sample(
            _inverted_lists(df, coarse, residual).select("id", "vec"), "id", pq_stride
        )
        pq_sample = route("kmeans_sample", pq_train) if pq_stride != coarse_stride else None
    meta = {
        "dim": dim, "n_lists": n_lists, "n_subspaces": n_subspaces,
        "n_centroids": pq_centroids, "residual": residual, "id_col": id_col,
        "coarse": coarse,
        "codebooks": _train_codebooks(pq_train, pq_sample, pq_centroids, pq_iter, n_subspaces),
    }
    return ivfpq_append(corpus, meta, vec_col=vec_col, id_col=id_col), meta


def ivfpq_append(
    new_vectors: DataFrame,
    meta: dict,
    *,
    vec_col: str = "embedding",
    id_col: str | None = None,
) -> DataFrame:
    """Incremental index maintenance: encode NEW vectors with a frozen
    index's quantizers (coarse centroids + PQ codebooks from ``meta``) and
    return code rows in exactly build_ivfpq_index's schema — union them
    onto the persisted codes table and the index has grown without
    retraining or re-encoding the corpus. This is the daily-ingest
    operation every production IVF deployment runs (retraining is a rare
    offline event; appends are constant), and the missing third member of
    the index lifecycle next to build/save/load.

    Encoding is one scan of the new shard: centroid assignment and
    codebook lookup are plan-time literals, no join to the existing codes.
    build_ivfpq_index encodes through this function, so append(shard,
    meta) on the shard the index was built from IS the build's code rows,
    and append(full) == build_codes ∪ append(new) — asserted in
    test_ivfpq_append_matches_full_encode. Quality caveat (standard for
    frozen-quantizer appends): new vectors from a drifted distribution
    quantize with the OLD codebooks; monitor per-list residual error and
    retrain offline when it degrades.
    """
    idc = id_col or meta["id_col"]
    df = new_vectors.select(F.col(idc).alias("id"), F.col(vec_col).alias("vec"))
    # list_id rides through pq_codes (passthrough) so serving is ONE scan,
    # no self-join to re-attach the inverted-list assignment
    return pq_codes(
        _inverted_lists(df, meta["coarse"], meta["residual"]), vec_col="vec", id_col="id",
        dim=meta["dim"], n_subspaces=meta["n_subspaces"], n_centroids=meta["n_centroids"],
        codebooks=meta["codebooks"], passthrough=("list_id",),
    ).withColumnRenamed("id", idc)


def ivfpq_residual_stats(
    vectors: DataFrame,
    meta: dict,
    *,
    vec_col: str = "embedding",
    id_col: str | None = None,
) -> DataFrame:
    """Index-staleness monitor — the concrete form of ivfpq_append's
    "monitor per-list residual error" contract: assign a shard to the
    frozen coarse quantizer and report, per inverted list, how far its
    vectors sit from their centroid (mean/max L2 residual norm). Run it on
    each appended shard and compare against the build-time baseline: a
    drifted ingest distribution shows up as rising residual norms (and
    often mass concentrating in few lists) BEFORE recall degrades in
    serving — the retrain trigger. One scan; centroids are plan-time
    literals; output is n_lists rows.
    """
    idc = id_col or meta["id_col"]
    df = vectors.select(F.col(idc).alias("id"), F.col(vec_col).alias("vec"))
    assigned = _inverted_lists(df, meta["coarse"], residual=True)
    norm = F.sqrt(F.aggregate(F.col("vec"), F.lit(0.0), lambda acc, x: acc + x * x))
    return (
        assigned.select("list_id", norm.alias("residual_norm"))
        .groupBy("list_id")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg("residual_norm"), 6).alias("mean_residual"),
            F.round(F.max("residual_norm"), 6).alias("max_residual"),
        )
    )


def save_ivfpq_index(codes: DataFrame, meta: dict, path: str) -> None:
    """Persist the index as lake tables: codes parquet + a long-format
    centroid table (kind, subspace, cluster, i, val) + a one-row params
    table. Doubles round-trip parquet exactly, so a loaded index serves
    bit-identically to the one it was saved from (tested)."""
    spark = codes.sparkSession
    codes.write.mode("overwrite").parquet(f"{path}/codes")
    rows = [
        ("coarse", -1, j, i, float(v))
        for j, row in enumerate(meta["coarse"]) for i, v in enumerate(row)
    ] + [
        ("pq", s, c, i, float(v))
        for s, cb in enumerate(meta["codebooks"])
        for c, row in enumerate(cb)
        for i, v in enumerate(row)
    ]
    spark.createDataFrame(
        rows, "kind string, subspace int, cluster int, i int, val double"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    spark.createDataFrame(
        [(meta["dim"], meta["n_lists"], meta["n_subspaces"], meta["n_centroids"],
          meta["residual"], meta["id_col"])],
        "dim int, n_lists int, n_subspaces int, n_centroids int, residual boolean, id_col string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")


def load_ivfpq_index(spark, path: str) -> tuple[DataFrame, dict]:
    """Inverse of save_ivfpq_index: (codes, meta) ready for ivfpq_serve."""
    p = spark.read.parquet(f"{path}/meta").collect()[0]
    cents = spark.read.parquet(f"{path}/centroids").collect()
    sub = p["dim"] // p["n_subspaces"]
    coarse = [[0.0] * p["dim"] for _ in range(p["n_lists"])]
    codebooks = [
        [[0.0] * sub for _ in range(p["n_centroids"])] for _ in range(p["n_subspaces"])
    ]
    for r in cents:
        if r["kind"] == "coarse":
            coarse[r["cluster"]][r["i"]] = r["val"]
        else:
            codebooks[r["subspace"]][r["cluster"]][r["i"]] = r["val"]
    meta = {
        "dim": p["dim"], "n_lists": p["n_lists"], "n_subspaces": p["n_subspaces"],
        "n_centroids": p["n_centroids"], "residual": p["residual"],
        "id_col": p["id_col"], "coarse": coarse, "codebooks": codebooks,
    }
    return spark.read.parquet(f"{path}/codes"), meta


def ivfpq_serve(
    index_codes: DataFrame,
    meta: dict,
    queries: DataFrame,
    *,
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 4,
    refine: int = 0,
    corpus: DataFrame | None = None,
) -> DataFrame:
    """Serve half of IVF+PQ: rank an index's codes for a query set (plain
    or residual per ``meta``). Same output contract as ivf_pq_topk.
    Nothing touches the driver: probe selection, the (query, probed list)
    pairs and the ADC distance tables are all plan expressions, carried as
    a DataFrame keyed (query_id, list_id, subspace, centroid) and
    equi-joined to the long-format codes on (list_id, subspace, code), so
    the query set has no size cap and building the plan runs no job.

    Scale shape: the tables side is |queries| * nprobe * n_subspaces *
    n_centroids rows, distributed. The join meets each code row only with
    queries that PROBED its list (the IVF pruning is inside the equi-join
    key), so join output is candidate-proportional, ~|corpus| * nprobe /
    n_lists per query, and the per-(query, neighbor) sum partially
    aggregates map-side. For the residual recipe the per-list residual
    (q - C_list, _residual) feeds the same distance tables.

    ``refine=R`` (IVFADC+R) re-ranks each query's top-R ADC candidates by
    exact cosine against the raw ``corpus`` vectors — both joins are plain
    distributed equi-joins on neighbor_id / query_id (R rows per query on
    the shortlist side).
    """
    residual, id_col = meta["residual"], meta["id_col"]
    coarse, codebooks = meta["coarse"], meta["codebooks"]
    if refine and corpus is None:
        raise ValueError(
            "ivfpq_serve: refine>0 needs the raw corpus frame for the exact re-rank"
        )
    qp = _probe_lists(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")),
        "__qvec", coarse, nprobe,
    )
    if residual:
        qp = qp.select(
            "query_id", "list_id",
            _residual(F.col("__qvec"), F.col("list_id"), coarse).alias("__qvec"),
        )
    scored = _adc_scored(index_codes, qp, codebooks, id_col=id_col, keys=("list_id",))
    if not refine:
        return _top_per_query(scored, "adc_dist", k)
    shortlist = _top_per_query(scored, "adc_dist", refine).drop("adc_dist", "rk")
    qvecs = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    rescored = (
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
        .join(shortlist, "neighbor_id")
        .join(qvecs, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_similarity("q_vec", "c_vec"), 6).alias("cosine"),
        )
    )
    return _top_per_query(rescored, "cosine", k, desc=True)


def semantic_dedup(
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_clusters: int = 16,
    min_cosine: float = 0.35,
    max_iter: int = 3,
    train_stride: int = 1,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) semantic deduplication: partition the
    corpus with a coarse k-means quantizer, then inside each cluster drop
    every vector that has a LOWER-id clustermate with cosine >= min_cosine
    (the lowest id of each similar group survives — deterministic, no RNG).
    Output: (vec_id, cluster, keep).

    Scale shape: clustering reuses the bounded-training quantizer
    (kmeans_centroids — stride-sampled training, one serving scan to
    assign); the only pairwise work is the intra-cluster self-join, which
    is the SemDeDup design point — k is chosen so clusters are small
    (corpus_rows / k pairs-per-cluster is the knob; at 100 TB pick
    k ~ rows/50k so the per-cluster quadratic term stays bounded), and AQE
    skew-splits oversized clusters. Vectors travel once to the candidate
    pairs; scoring is the shared Arrow einsum batch path.

    Oracle-mirrorable end to end: deterministic k-means unrolls into the
    same CTE chain as the IVF oracle, and the drop rule is one EXISTS over
    the cluster equi-join (plans/northstar.py::q_semdedup).
    """
    cents = kmeans_centroids(
        corpus, vec_col=vec_col, id_col=id_col, k=n_clusters,
        max_iter=max_iter, train_stride=train_stride,
    )
    # materialize the assignment ONCE: it feeds both sides of the cluster
    # self-join, the scorer's (id, vec) corpus, and the final keep join —
    # without the checkpoint the centroid-distance fold re-runs per consumer
    # (at lake scale this is the "write cluster assignments to a table"
    # step every SemDeDup implementation takes)
    assigned = (
        _assign_nearest(corpus.select(id_col, vec_col), vec_col, cents)
        .select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("vec"),
            F.col("__cluster").alias("cluster"),
        )
        .localCheckpoint()
    )
    # candidate pairs stay NARROW (two ids) through the cluster self-join;
    # vectors are attached by the routed scorer (closure-shipped corpus under
    # the bound, id join above it) — carrying both vectors through the join
    # was 2*dim floats per pair of shuffle+Arrow payload (measured 16 s vs
    # ~3 s at sf0.1)
    a = assigned.select(F.col("id").alias("id_a"), F.col("cluster"))
    b = assigned.select(F.col("id").alias("id_b"), F.col("cluster"))
    pairs = a.join(b, "cluster").filter(F.col("id_a") < F.col("id_b")).select("id_a", "id_b")
    sides = assigned.select("id", "vec")
    dropped = (
        _score_pairs_for(pairs, sides, route("pair_scorer", sides, arrow=True))
        .filter(F.col("cosine") >= min_cosine)
        .select(F.col("id_b").alias("id"))
        .distinct()
        .withColumn("__drop", F.lit(True))
    )
    return (
        assigned.join(dropped, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("cluster").cast("int").alias("cluster"),
            F.coalesce(~F.col("__drop"), F.lit(True)).alias("keep"),
        )
    )


def semantic_dedup_delta(
    new_vecs: DataFrame,
    corpus_state: DataFrame,
    centroids: list[list[float]],
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    min_cosine: float = 0.35,
) -> DataFrame:
    """Incremental SemDeDup: dedup a NEW shard against a PERSISTED cluster
    state — the embedding-side daily-ingest path, mirroring
    minhash_dedup_delta's shape (dedup.py). The quantizer (``centroids``)
    and the corpus assignments (``corpus_state``: (id, vec, cluster) rows,
    the materialized output of the index-time run joined with its vectors)
    are precomputed lake assets; each ingest batch pays ONE assignment scan
    of its own rows plus intra-cluster joins against only the clusters it
    actually touches — O(new · cluster_occupancy), never corpus².

    Drop rule matches the batch operator exactly: a new vector is dropped
    iff a LOWER-id clustermate (old or new) has cosine >= min_cosine. With
    monotonically increasing ingest ids (old < new), this reproduces what
    batch SemDeDup over (corpus ∪ shard) decides for the shard's rows —
    the parity test runs both on a two-shard split
    (test_semantic_dedup_delta_parity). Output: (id_col, cluster, keep)
    for the NEW shard only.
    """
    new_assigned = (
        _assign_nearest(new_vecs.select(id_col, vec_col), vec_col, centroids)
        .select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("vec"),
            F.col("__cluster").alias("cluster"),
        )
        .localCheckpoint()
    )
    old = corpus_state.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec"),
        F.col("cluster").cast("int").alias("cluster"),
    )
    a = new_assigned.select(F.col("id").alias("id_a"), "cluster")
    b = (
        old.select(F.col("id").alias("id_b"), "cluster")
        .unionByName(new_assigned.select(F.col("id").alias("id_b"), "cluster"))
    )
    pairs = (
        a.join(b, "cluster")
        .filter(F.col("id_b") < F.col("id_a"))
        .select(F.col("id_a"), F.col("id_b"))
    )
    sides = old.select("id", "vec").unionByName(new_assigned.select("id", "vec"))
    dropped = (
        _score_pairs_for(pairs, sides, route("pair_scorer", sides, arrow=True))
        .filter(F.col("cosine") >= min_cosine)
        .select(F.col("id_a").alias("id"))
        .distinct()
        .withColumn("__drop", F.lit(True))
    )
    return (
        new_assigned.join(dropped, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("cluster").cast("int").alias("cluster"),
            F.coalesce(~F.col("__drop"), F.lit(True)).alias("keep"),
        )
    )
