"""Frequency-sketch operators: bounded-memory heavy hitters, and the cell
and position generators of the count-min and bloom sketches.

``heavy_hitters`` finds every token with global frequency > n/k EXACTLY,
using the two-stage pattern that scales to 100 TB:

1. **Candidate generation** — a per-partition Misra-Gries summary (bounded
   at ``capacity`` counters, one streaming pass over the partition's Arrow
   batches). MG guarantees any item with in-partition frequency
   > n_p/(capacity+1) survives the summary; since a global heavy hitter
   (freq > n/k) must exceed n_p/k in at least one partition (weighted-mean
   argument) and capacity+1 >= k, the union of partition summaries is a
   SUPERSET of the true heavy hitters. Summary size is O(capacity) per
   partition regardless of data volume.
2. **Exact verification** — broadcast the (tiny) candidate set, semi-join
   to recount exactly, keep ``freq * k > n`` (integer compare, no float
   threshold). The output is exact, so a plain SQL oracle checks it.

The expensive explode/scan runs twice (candidates, recount); both passes
are JVM-side except the MG summarizer, which crosses per Arrow batch and
aggregates with vectorized ``value_counts`` — no per-row Python in the hot
path, and the decrement step touches only the bounded counter dict.

``cms_cells`` and ``bloom_positions`` are the row-level halves of the two
linear sketches: one generator per row, so the sketch itself is a plain
``groupBy(...).count()`` that batch queries (q_cms_shards,
q_bloom_prefilter) and the streaming maintainers (streaming/analytics.py)
run over the same cells.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.functions import broadcast

from syscol_spark.operators.sampling import hash_bucket


def misra_gries_candidates(df: DataFrame, col: str, *, capacity: int = 4096) -> DataFrame:
    """Per-partition Misra-Gries summaries: one row per surviving item.

    Batch-level generalization of the classic decrement: after merging a
    batch's value_counts, if more than ``capacity`` counters remain,
    subtract the (m-capacity)-th smallest count from all and drop the
    non-positive — each subtraction of ``cut`` is charged against >capacity
    surviving counters, so total undercount per item <= n_p/(capacity+1),
    which is exactly the MG guarantee the superset proof needs.
    """

    def summarize(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict = {}
        template = None
        for pdf in it:
            if template is None:
                template = pdf.iloc[:0]
            for tok, c in pdf[col].value_counts().items():
                counters[tok] = counters.get(tok, 0) + int(c)
            if len(counters) > capacity:
                vals = sorted(counters.values())
                cut = vals[len(counters) - capacity - 1]
                counters = {t: c - cut for t, c in counters.items() if c > cut}
        if template is None:
            return
        yield pd.DataFrame({col: pd.Series(list(counters.keys()), dtype=template[col].dtype)})

    # Output schema mirrors the input column's type (not hardcoded string),
    # so heavy hitters over long/int/date columns keep a correctly-typed
    # semi-join key instead of an Arrow type mismatch.
    item_type = df.schema[col].dataType.simpleString()
    return df.select(col).mapInPandas(summarize, schema=f"{col} {item_type}").distinct()


def heavy_hitters(df: DataFrame, col: str | Column, *, k: int = 50, capacity: int = 4096) -> DataFrame:
    """Exact items with frequency > n/k: MG candidates + exact recount.

    Returns (``col``, freq) with freq the exact global count.
    """
    name = col if isinstance(col, str) else "item"
    items = df.select(F.col(col).alias(name) if isinstance(col, str) else col.alias(name))
    cands = misra_gries_candidates(items, name, capacity=capacity)
    total = items.agg(F.count(F.lit(1)).alias("total"))
    return (
        items.join(broadcast(cands), name, "left_semi")
        .groupBy(name)
        .agg(F.count(F.lit(1)).alias("freq"))
        .crossJoin(broadcast(total))
        .filter(F.col("freq") * k > F.col("total"))
        .select(name, "freq")
    )


def cms_cells(key: Column | str, seeds: tuple[int, ...], width: int) -> Column:
    """Count-min cells of ``key``: a generator yielding one (depth, bucket)
    row per seed, depth the seed's index and bucket its md5 ``hash_bucket``
    in [0, width). Counting rows per (depth, bucket) builds the sketch."""
    return F.inline(
        F.array(
            *[
                F.struct(F.lit(d).alias("depth"), hash_bucket(key, seed, width).alias("bucket"))
                for d, seed in enumerate(seeds)
            ]
        )
    )


def bloom_positions(key: Column | str, seeds: tuple[int, ...], m: int) -> Column:
    """Bloom-filter positions of ``key``: a generator yielding one ``pos``
    row per seed, the seed's md5 ``hash_bucket`` in [0, m). The distinct
    positions are the filter's set bits; rows per position count keys."""
    return F.explode(F.array(*[hash_bucket(key, seed, m) for seed in seeds])).alias("pos")
