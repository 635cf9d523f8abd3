"""Time-weighted aggregation over irregular samples (north-star: the
metrics-analytics op the reference's domain calls for but Spark lacks as a
built-in — a plain AVG over-weights bursts of closely-spaced scrapes).

Semantics (TimescaleDB-style "LOCF within bucket", documented precisely so
the DuckDB oracle can mirror it): within each (keys, bucket) the samples are
ordered by (ts, tiebreak); sample i's value holds from its own timestamp
until the next sample's timestamp (last sample: until bucket end); the
time-weighted average is sum(value_i * dur_i) / sum(dur_i). No carry-in from
the previous bucket — the first sample's weight starts at its own arrival,
which keeps the operator a pure per-bucket window computation (one shuffle,
no cross-bucket state).

Numeric discipline: value goes through DECIMAL(15,6) and the weight
value*duration_us stays exact decimal (15+20+1 digits < 38 on both engines),
so the weighted sum is order-independent and bit-identical cross-engine;
duration sums are plain BIGINTs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def time_weighted_avg(
    df: DataFrame,
    key_cols: list[str],
    ts_us_col: str,
    value_col: str,
    *,
    bucket_us: int,
    tiebreak_col: str,
) -> DataFrame:
    """(keys..., bucket_us_start, n_samples, covered_us, twa).

    ``covered_us`` is the observed span (first sample → bucket end) the
    average actually weights over; callers comparing against a plain AVG can
    see how much of the bucket was un-sampled."""
    if bucket_us <= 0:
        raise ValueError("bucket_us must be positive")
    bucket = (F.expr(f"{ts_us_col} div {bucket_us}") * F.lit(bucket_us)).alias("bucket_us")
    w = Window.partitionBy(*key_cols, "bucket_us").orderBy(ts_us_col, tiebreak_col)
    staged = (
        df.select(*key_cols, F.col(ts_us_col), F.col(value_col), F.col(tiebreak_col), bucket)
        .withColumn("__next", F.lead(ts_us_col).over(w))
        .withColumn(
            "__dur",
            (F.coalesce(F.col("__next"), F.col("bucket_us") + F.lit(bucket_us)) - F.col(ts_us_col)).cast("long"),
        )
    )
    weight = F.col(value_col).cast("decimal(15,6)") * F.col("__dur")
    return (
        staged.groupBy(*key_cols, "bucket_us")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.sum("__dur").alias("covered_us"),
            (F.sum(weight).cast("double") / F.sum("__dur").cast("double")).alias("twa"),
        )
    )


def counter_rate(
    df: DataFrame,
    key_cols: list[str],
    ts_us_col: str,
    value_col: str,
    *,
    bucket_us: int,
    tiebreak_col: str,
) -> DataFrame:
    """Reset-aware per-bucket rate for monotonic counters (the Prometheus
    ``rate()`` shape, simplified to stay exactly oracle-mirrorable):

    within each (keys, bucket), ordered by (ts, tiebreak), each sample
    contributes ``value - prev_value`` if non-negative, else ``value``
    (counter reset: the counter restarted from ~0, so the post-reset value
    IS the increase). The first sample of a bucket has no predecessor and
    contributes nothing. rate = total_increase / observed_span_seconds.
    Buckets with <2 samples or zero span are dropped (no rate is defined —
    and emitting inf/NaN would be engine-dependent).

    Increases are computed in DECIMAL(15,6) (exact differences, order-
    independent sum); the final division is double/double — identical IEEE
    on any engine. One window pass + one shuffle, same plan shape as
    time_weighted_avg."""
    if bucket_us <= 0:
        raise ValueError("bucket_us must be positive")
    bucket = (F.expr(f"{ts_us_col} div {bucket_us}") * F.lit(bucket_us)).alias("bucket_us")
    w = Window.partitionBy(*key_cols, "bucket_us").orderBy(ts_us_col, tiebreak_col)
    val = F.col(value_col).cast("decimal(15,6)")
    staged = (
        df.select(*key_cols, F.col(ts_us_col), val.alias("__v"), F.col(tiebreak_col), bucket)
        .withColumn("__prev", F.lag("__v").over(w))
        .withColumn(
            "__inc",
            F.when(F.col("__prev").isNull(), F.lit(None).cast("decimal(15,6)"))
            .when(F.col("__v") >= F.col("__prev"), F.col("__v") - F.col("__prev"))
            .otherwise(F.col("__v")),
        )
    )
    out = staged.groupBy(*key_cols, "bucket_us").agg(
        F.count(F.lit(1)).alias("n_samples"),
        (F.max(ts_us_col) - F.min(ts_us_col)).cast("long").alias("span_us"),
        F.sum("__inc").cast("double").alias("total_increase"),
    )
    return out.filter((F.col("n_samples") >= 2) & (F.col("span_us") > 0)).select(
        *key_cols,
        "bucket_us",
        "n_samples",
        "span_us",
        "total_increase",
        (F.col("total_increase") / (F.col("span_us").cast("double") / F.lit(1_000_000.0))).alias("rate_per_sec"),
    )


def cdc_compact(events: DataFrame) -> DataFrame:
    """Latest-wins compaction of a change log keyed (user_id, event_type):
    one row per key with its version count, first and last ``ts_us``, and
    the value of its latest version under the (ts_us, event_id) order, so
    an out-of-order or duplicate-timestamp feed converges to one winner.

    One declarative aggregate, so the same query runs as a batch groupBy
    (q_cdc_compact) and as a streaming aggregation in update mode
    (streaming_cdc_compact), where the state per key is Spark's
    aggregation buffer. Input must carry (user_id, event_type, event_id,
    ts_us, value)."""
    return events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_versions"),
        F.min("ts_us").alias("first_us"),
        F.max("ts_us").alias("last_us"),
        F.expr("max_by(value, struct(ts_us, event_id))").alias("last_value"),
    )
