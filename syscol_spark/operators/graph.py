"""Iterative graph analytics over edge lists (PageRank).

Complements the connected-components operator (operators/dedup.py::
dedup_clusters) with the other canonical iterative-dataflow shape: a
damped fixed-point over incoming-edge contributions. In a curation
pipeline this ranks the k-NN graph (operators/similarity.py::knn_graph):
high-rank nodes sit in dense semantic neighborhoods — SemDeDup-style
prune candidates; low-rank nodes are outliers worth auditing.

Like connected components, PageRank has two twins behind the
``graph_edges`` route (operators/route.py). Under the bound the edge list
is fetched once through Arrow and a numpy power iteration runs on the
driver: below a size bound a distributed fixpoint is scheduling overhead
(McSherry et al., "Scalability! But at what COST?", HotOS 2015): over a
~1,500-edge k-NN graph the distributed iterations ran 16 Spark jobs more
than the one fetch does, and took seconds longer. Above the bound
the distributed iterations run. Both twins compute each rank as
``(1-d) + d * sum(pr[src] / deg[src])`` over the node's in-edges, so a node
with no in-edges holds ``1-d`` after the first iteration, and both round
with the same ``F.round`` on the output column.

Scale shape of the distributed twin (mirrors dedup_clusters):
- per-iteration work is one equi-join (edges ⋈ ranks on src) plus one
  groupBy(dst) — both shuffle on node ids, never materialize anything
  denser than the edge list;
- out-degrees are computed ONCE outside the loop, by a window count per
  src, so no per-node state is larger than one row;
- the iteration chain is truncated every THIRD iteration with a
  localCheckpoint (r14 A/B: a fully-lazy 5-iteration chain measured
  SLOWER — 6.6 s vs 5.0 s at sf0.1 — because the un-materialized rank
  side re-sorts through the deep plan each round; the periodic cut keeps
  plan depth bounded at 3 while paying only ceil(iters/3) eager jobs).

Ranks are scaled by N (start at 1.0, sum to N) so emitted values sit
near 1 where a 6dp round is far coarser than the float-sum ulp noise —
the engine-parity discipline from plans/catalog.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql.types import DoubleType, StructField, StructType

from syscol_spark.operators.route import local_frame, route


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    *,
    damping: float = 0.85,
    iterations: int = 5,
) -> DataFrame:
    """N-scaled PageRank after a fixed number of damped iterations.

    Output: (node, pr) with pr rounded to 6dp; sum(pr) ≈ N. Node ids keep
    the type of ``src_col``.
    """
    pairs = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    local = route("graph_edges", pairs, arrow=True)
    if local is not None:
        pr = _pagerank_local(pairs, local, damping, iterations)
    else:
        pr = _pagerank_distributed(pairs, damping, iterations)
    return pr.select("node", F.round("pr", 6).alias("pr"))


def _pagerank_local(pairs: DataFrame, pdf: pd.DataFrame, damping: float, iterations: int) -> DataFrame:
    """Power iteration over the fetched (src, dst) edge list, with the
    distributed twin's arithmetic: per edge ``pr / deg`` of its src, summed
    per dst, then ``(1-d) + d * sum``; a node with no in-edges sums 0.0."""
    ids, idx = np.unique(np.concatenate([pdf["src"].to_numpy(), pdf["dst"].to_numpy()]), return_inverse=True)
    src, dst = idx[: len(pdf)], idx[len(pdf):]
    deg = np.bincount(src, minlength=len(ids))[src]
    pr = np.ones(len(ids))
    for _ in range(iterations):
        pr = (1.0 - damping) + damping * np.bincount(dst, weights=pr[src] / deg, minlength=len(ids))
    schema = StructType([StructField("node", pairs.schema["src"].dataType), StructField("pr", DoubleType())])
    return local_frame(pairs.sparkSession, list(zip(ids.tolist(), pr.tolist())), schema)


def _pagerank_distributed(pairs: DataFrame, damping: float, iterations: int) -> DataFrame:
    """The damped iterations as distributed joins and aggregates; (node, pr)
    before rounding."""
    # Materialize the degree-weighted edge list ONCE, hash-partitioned on
    # src: the window's exchange on src is exactly the layout every
    # iteration's join reuses. The window counts each src's out-edges
    # without gathering them, so a hub's out-edges never become one array
    # (a collect_list + explode did, before).
    weighted = pairs.withColumn(
        "deg", F.count(F.lit(1)).over(Window.partitionBy("src"))
    ).localCheckpoint()  # (src, dst, deg) fixed
    # ONE aggregation derives both driver-fixed node frames (r14 — was two
    # checkpoints: a union-distinct for `nodes` plus a left-anti join for
    # `dangling`): every node tagged with whether ANY in-edge reaches it.
    # Nodes with no in-edges are a constant set whose rank is (1-d) after
    # the first iteration, every iteration — computing them once replaces
    # the per-iteration nodes-⋈-contrib left join with a shuffle-free
    # union of a fixed frame.
    nd = (
        weighted.select(F.col("src").alias("node"), F.lit(0).alias("has_in"))
        .unionAll(weighted.select(F.col("dst").alias("node"), F.lit(1).alias("has_in")))
        .groupBy("node")
        .agg(F.max("has_in").alias("has_in"))
        .localCheckpoint()
    )
    dangling = nd.filter(F.col("has_in") == 0).select(
        "node", F.lit(1.0 - damping).alias("pr")
    )

    pr = nd.select("node", F.lit(1.0).alias("pr"))
    for it in range(iterations):
        contrib = (
            weighted.join(pr, weighted.src == pr.node)
            .select("dst", (F.col("pr") / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        # every src is in pr by construction (contrib ∪ dangling covers all
        # nodes), so no contribution is ever dropped and the coalesce of the
        # old left join is exactly the dangling union below
        pr = contrib.select(
            F.col("dst").alias("node"),
            (F.lit(1.0 - damping) + F.lit(damping) * F.col("s")).alias("pr"),
        ).unionByName(dangling)
        # truncate lineage every THIRD iteration: each localCheckpoint is an
        # eager job (~0.3-0.5 s scheduling latency at local scale), and a
        # 3-iteration plan is still shallow — cuts the job count by a third.
        # (r14 A/B: removing these entirely and leaving the 5-iteration
        # chain fully lazy measured SLOWER — 6.6 s vs 5.0 s at sf0.1 — the
        # un-materialized pr side re-sorts through the deep plan; keep the
        # periodic truncation.)
        if it % 3 == 2 or it == iterations - 1:
            pr = pr.localCheckpoint()
    return pr
