"""The driver-local / distributed choice, made in one place.

Eight operators have a driver-local twin, exact and cheap while its input
is small, and a distributed twin that runs at any size. Both twins compute
the same result, so the choice steers only cost. Each decision is one row
of ``BOUNDS`` (connected components and PageRank share the edge-list row)
and one bounded fetch: ``route(name, frame)`` pulls at most ``bound + 1``
rows, and when no more than ``bound`` came back the fetch returned every
row, so the local twin starts from the complete input (``limit``'s choice
of rows matters only on the over-bound side, where the rows are dropped).
The fetch is the only measurement: Catalyst's size estimate sizes a
200-row MMR shortlist at tens of GB, so it cannot pick a side. Two rows
bound a size the driver derives from rows it already fetched, checked with
``fits``: MMR's in-shortlist pairs (``mmr_pairs``) and the k-NN graph's
candidate pairs (``knn_pairs``, after the ``pair_scorer`` fetch).

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
    # mmr_topk: (query, candidate) shortlist rows
    "mmr_shortlist": 10_000,
    # mmr_topk: in-shortlist pair rows, sum over queries of n_q * (n_q - 1),
    # ~64 MB of Row objects; the row bound alone admits a single
    # 10k-candidate query with ~1e8 pairs
    "mmr_pairs": 2_000_000,
    # k-means training sample, (id, vec) rows: ~100 MB of float64 at dim=64
    "kmeans_sample": 200_000,
    # candidate-pair scoring: the (id, vec) corpus rides in the Python task
    # closure and is re-shipped per task, so the bound is a closure budget,
    # 65,536 x 64 dims x 8 B = 32 MB. At 200k vectors (sf10) raw closure
    # capture wedged worker set-up and a Spark broadcast variable deadlocked
    # worker reuse; above the bound the vectors are attached by id joins
    "pair_scorer": 65_536,
    # BPE training: (word, freq) vocabulary rows, a few MB of strings
    "bpe_vocab": 200_000,
    # connected components and PageRank: edge rows, two ids each
    "graph_edges": 200_000,
    # knn_graph: candidate pairs before deduplication, the sum over
    # (band, key) buckets of B(B-1)/2, counted from the keys before any pair
    # exists; 2^24 int64 pair codes are 128 MB. 10,000 uniform random
    # dim-64 vectors (auto band_bits = 7) have 16.2M: the local twin built
    # their graph in 3.5-3.8 s at a 584 MB driver peak, the distributed one
    # in 22-25 s (4 cores)
    "knn_pairs": 1 << 24,
}


def route(name: str, frame: DataFrame, *, arrow: bool = False):
    """All rows of ``frame`` when it has at most ``BOUNDS[name]`` of them,
    else None, from one bounded fetch. ``arrow`` fetches a pandas frame
    through Arrow (``toPandas``): at the scorer's bound a Row collect builds
    hundreds of MB of boxed objects before the matrix exists."""
    bound = BOUNDS[name]
    probe = frame.limit(bound + 1)
    rows = probe.toPandas() if arrow else probe.collect()
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
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    if len(rows) == 0:
        return spark.createDataFrame([], schema)
    arrow_schema = to_arrow_schema(schema)
    columns = [pa.array(c, type=f.type) for c, f in zip(zip(*rows), arrow_schema)]
    return spark.createDataFrame(pa.Table.from_arrays(columns, schema=arrow_schema), schema)
