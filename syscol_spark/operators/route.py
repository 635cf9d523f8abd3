"""The driver-local / distributed choice, made in one place.

Eight operators have a driver-local twin, exact and cheap while its input
is small, and a distributed twin that runs at any size; MMR has two local
twins, one over the whole corpus and one over an engine-computed
shortlist. All twins compute the same result, so the choice steers only
cost. Each decision is one row of ``BOUNDS`` (connected components and
PageRank share the edge-list row; MMR and the pair scorers share the
corpus row) and one bounded fetch: ``route(name, frame)`` pulls at most
``bound + 1`` rows, and when no more than ``bound`` came back the fetch
returned every row, so the local twin starts from the complete input
(``limit``'s choice of rows matters only on the over-bound side, where the
rows are dropped). The fetch is the only measurement: Catalyst's size
estimate sizes a 200-row MMR shortlist at tens of GB, so it cannot pick a
side. Some rows bound a size the driver derives from rows it already
fetched, checked with ``fits``: MMR's shortlist rows and cosines
(``mmr_shortlist`` and ``mmr_pairs``, after the ``pair_scorer`` fetch) and
the k-NN graph's candidate pairs (``knn_pairs``, after the same fetch).

A local twin hands its result back through ``local_frame``, so the frame
it returns plans as a ``LocalTableScan`` and costs no Spark job to use.

Every decision is logged on the ``syscol_spark.route`` logger at DEBUG as a
record whose ``route`` attribute is ``{name, bound, observed, path}``
(``observed`` of a fetch stops at ``bound + 1``); ``scripts/ledger.py``
reports them per query. Tests force the distributed twin by setting a bound
to -1.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

log = logging.getLogger("syscol_spark.route")

#: rows a driver-local twin accepts, per decision
BOUNDS = {
    # mmr_topk: (query, candidate) shortlist rows, the n_q * min(shortlist,
    # n_c) upper bound from the pair_scorer fetch, or the engine shortlist's
    # rows over that fetch's bound; the driver's greedy steps scan each
    # query's shortlist once per step
    "mmr_shortlist": 10_000,
    # mmr_topk: every cosine the driver computes, n_q * n_c against the
    # corpus plus n_q * s * (s - 1) within the shortlists, s = min(shortlist,
    # n_c) (over the pair_scorer bound, the in-shortlist pairs alone, the sum
    # over queries of n * (n - 1)); a 16 MB float64 matrix at the bound.
    # 60,000 random dim-64 vectors and 33 queries (1.99M cosines) built
    # locally in 2.3-2.8 s warm at a 361 MB driver peak; through the
    # engine shortlist in 62-86 s with the driver greedy, 80-87 s with the
    # distributed loop (4 cores)
    "mmr_pairs": 2_000_000,
    # k-means training sample, (id, vec) rows: ~100 MB of float64 at dim=64
    "kmeans_sample": 200_000,
    # an (id, vec) corpus held on the driver: the candidate-pair scorer
    # ships it to every task in the Python closure, re-shipped per task, so
    # the bound is a closure budget, 65,536 x 64 dims x 8 B = 32 MB (at 200k
    # vectors, sf10, raw closure capture wedged worker set-up and a Spark
    # broadcast variable deadlocked worker reuse; above the bound the
    # vectors are attached by id joins); the k-NN graph and MMR (corpus and
    # queries, one fetch) compute from it on the driver
    "pair_scorer": 65_536,
    # BPE training: (word, freq) vocabulary rows, a few MB of strings
    "bpe_vocab": 200_000,
    # connected components and PageRank: edge rows, two ids each
    "graph_edges": 200_000,
    # knn_graph: the candidate pairs its kernel emits before deduplication
    # (similarity.py::_srp_pair_count: B(B-1)/2 per bucket of B <=
    # bucket_cap, the two windows' pairs above it), counted from the keys
    # before any pair exists; 2^24 int64 pair codes are 128 MB. 10,000
    # uniform random dim-64 vectors (auto band_bits = 7) have 16.2M: the
    # local twin built their graph in 3.2-4.8 s at a 708 MB driver peak,
    # the distributed one in 13.9 s (one timed build, 4 cores)
    "knn_pairs": 1 << 24,
}


def route(name: str, frame: DataFrame, *, arrow: bool = False):
    """All rows of ``frame`` when it has at most ``BOUNDS[name]`` of them,
    else None, from one bounded fetch. ``arrow`` fetches a pandas frame
    through Arrow (``toPandas``): at the scorer's bound a Row collect builds
    hundreds of MB of boxed objects before the matrix exists. Over a local
    relation (another twin's result) the probe plans as a
    ``LocalTableScan``, where ``toPandas`` still runs a job and ``collect``
    runs none, so the rows are collected and converted as ``toPandas``
    converts them."""
    bound = BOUNDS[name]
    probe = frame.limit(bound + 1)
    if not arrow:
        rows = probe.collect()
    elif probe._jdf.queryExecution().executedPlan().nodeName() == "LocalTableScan":  # noqa: SLF001
        rows = _arrow_table(probe.collect(), probe.schema).to_pandas()
    else:
        rows = probe.toPandas()
    return rows if fits(name, len(rows)) else None


def fits(name: str, observed: int, *, local_ok: bool = True) -> bool:
    """Whether ``observed``, a size the caller already holds, is within
    ``BOUNDS[name]``; logs the decision. ``local_ok=False`` sends it to the
    distributed twin at any size: the input has a shape that only that twin
    handles."""
    bound = BOUNDS[name]
    path = "local" if local_ok and observed <= bound else "distributed"
    log.debug(
        "%s: %d against %d -> %s", name, observed, bound, path,
        extra={"route": {"name": name, "bound": bound, "observed": observed, "path": path}},
    )
    return path == "local"


def local_frame(spark: SparkSession, rows: list, schema: StructType | str) -> DataFrame:
    """A result the driver already holds, as a DataFrame that plans as a
    ``LocalTableScan``: ``rows`` (tuples in ``schema``'s column order)
    cross into the JVM as one Arrow table, so using the frame runs no Spark
    job. ``createDataFrame`` over a list plans a ``Scan ExistingRDD``
    instead, which runs one job of a task per core every time the frame is
    used. An empty result keeps that path: it has no Arrow batch to ship."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    if len(rows) == 0:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(_arrow_table(rows, schema), schema)


def _arrow_table(rows: list, schema: StructType):
    """``rows`` (tuples in ``schema``'s column order) as an Arrow table of
    ``schema``'s Arrow types."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    columns = zip(*rows) if rows else [[] for _ in arrow_schema]
    arrays = [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)]
    return pa.Table.from_arrays(arrays, schema=arrow_schema)
