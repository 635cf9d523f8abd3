"""Event-time / stream-shaped operator coverage over the ``events`` table
(SURVEY.md §2.11): tumbling, sliding and session windows, stream dedup,
JSON payload extraction (U7), as-of join, banded range join, top-k per group.

These are the batch twins of the Structured Streaming operators in
``syscol_spark.streaming`` — identical column semantics, so oracle-checking
the batch side validates the streaming logic too.

Time parity contract: events.ts is Unix-ns int64 (ts_ns); all comparisons and
outputs use epoch MICROSECOND longs (ts_us = ts_ns div 1000), which is exactly
DuckDB's µs-truncated view of the same parquet (``epoch_us(ts)``).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from syscol_spark.operators.joins import asof_join, range_join_count
from syscol_spark.plans.catalog import register
from syscol_spark.plans.stable import davg, dec6, dsum
from syscol_spark.sources.tables import load_table


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


# --- tumbling window ---------------------------------------------------------
@register(
    "q_ev_tumbling",
    """
    SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
           event_type,
           COUNT(*)             AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sum_value,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) / COUNT(value) AS avg_value
    FROM events
    GROUP BY 1, 2
    """,
    description="event-time tumbling window aggregation (1h)",
)
def q_ev_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts_utc", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
            davg("value").alias("avg_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
            "avg_value",
        )
    )


# --- sliding window ----------------------------------------------------------
@register(
    "q_ev_sliding",
    """
    WITH slotted AS (
      SELECT CAST(floor(epoch_us(ts) / 1800000000) AS BIGINT) * 1800 AS slot, value FROM events
    ), windows AS (
      SELECT slot        AS window_start, value FROM slotted
      UNION ALL
      SELECT slot - 1800 AS window_start, value FROM slotted
    )
    SELECT window_start, COUNT(*) AS n_events, CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sum_value
    FROM windows GROUP BY window_start
    """,
    description="sliding window (1h length, 30m slide): each event in 2 windows",
)
def q_ev_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts_utc", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("sum_value"))
        .select(F.unix_timestamp(F.col("w.start")).alias("window_start"), "n_events", "sum_value")
    )


# --- session window ----------------------------------------------------------
@register(
    "q_ev_session",
    """
    WITH o AS (
      SELECT user_id, event_id, value, epoch_us(ts) AS ts_us,
             LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
      FROM events
    ), s AS (
      SELECT user_id, ts_us, value,
             SUM(CASE WHEN prev_us IS NULL OR ts_us - prev_us >= 600000000 THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
      FROM o
    )
    SELECT user_id, MIN(ts_us) AS session_start_us, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sum_value
    FROM s GROUP BY user_id, sess
    """,
    description="session windows (10m gap) per user — native session_window",
)
def q_ev_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.session_window("ts_utc", "10 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            "user_id",
            F.unix_micros(F.col("sw.start")).alias("session_start_us"),
            "n_events",
            "sum_value",
        )
    )


# --- stream dedup ------------------------------------------------------------
@register(
    "q_ev_dedup",
    """
    SELECT user_id, event_type, event_id, ts_us FROM (
      SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY epoch_us(ts), event_id) AS rn
      FROM events)
    WHERE rn = 1
    """,
    description="dedup: earliest event per (user, type) — streaming dropDuplicates analog",
)
def q_ev_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    # earliest-row-per-key as ONE aggregate (r15, guide §2.3/§2.4): min over
    # the struct (ts_us, event_id) — lexicographic, and (ts_us, event_id) is
    # unique per row (event_id is unique), so the winner is exactly the
    # former row_number()==1 row. The aggregate gets map-side partial
    # aggregation (each task collapses to one candidate per key before the
    # exchange) instead of shuffling and SORTING every event.
    return (
        ev.groupBy("user_id", "event_type")
        .agg(F.min(F.struct("ts_us", "event_id")).alias("__o"))
        .select(
            "user_id",
            "event_type",
            F.col("__o.event_id").alias("event_id"),
            F.col("__o.ts_us").alias("ts_us"),
        )
    )


# --- JSON payload extraction (U7) -------------------------------------------
@register(
    "q_ev_json",
    """
    SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_bucket,
           COUNT(*)             AS n,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sum_value,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) / COUNT(value) AS avg_value
    FROM events
    GROUP BY 1
    """,
    description="from_json over the dynamic props payload + aggregation",
)
def q_ev_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    k = F.from_json("props", "k INT").getField("k")
    return (
        ev.select((k % 10).alias("k_bucket"), "value")
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value").alias("sum_value"),
            davg("value").alias("avg_value"),
        )
    )


# --- as-of join --------------------------------------------------------------
@register(
    "q_ev_asof",
    """
    WITH u AS (
      SELECT user_id, epoch_us(ts) AS ts_us, 0 AS kind, event_id, event_id AS click_id
      FROM events WHERE event_type = 'click'
      UNION ALL
      SELECT user_id, epoch_us(ts), 1, event_id, NULL
      FROM events WHERE event_type = 'error'
    )
    SELECT event_id, ts_us,
           COALESCE(last_click_id, -1) AS last_click_id,
           COALESCE(last_click_ts, -1) AS last_click_ts
    FROM (
      SELECT event_id, ts_us, kind,
             LAST_VALUE(click_id IGNORE NULLS) OVER w AS last_click_id,
             LAST_VALUE(CASE WHEN kind = 0 THEN ts_us END IGNORE NULLS) OVER w AS last_click_ts
      FROM u
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, kind, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ) WHERE kind = 1
    """,
    description="as-of join: each error matched to latest same-user click at/before it",
)
def q_ev_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts_us", F.col("event_id").alias("click_id")
    )
    errors = ev.filter(F.col("event_type") == "error").select("user_id", "ts_us", "event_id")
    joined = asof_join(errors, clicks, on="user_id", left_time="ts_us", right_time="ts_us")
    return joined.select(
        "event_id",
        "ts_us",
        F.coalesce("click_id_asof", F.lit(-1)).alias("last_click_id"),
        F.coalesce("ts_us_asof", F.lit(-1)).alias("last_click_ts"),
    )


# --- banded range join -------------------------------------------------------
@register(
    "q_ev_range_join",
    """
    SELECT e.event_id, epoch_us(e.ts) AS ts_us, CAST(COUNT(c.event_id) AS BIGINT) AS n_recent_clicks
    FROM events e
    LEFT JOIN events c
      ON c.event_type = 'click' AND c.user_id = e.user_id
     AND epoch_us(c.ts) >= epoch_us(e.ts) - 30000000
     AND epoch_us(c.ts) <  epoch_us(e.ts)
    WHERE e.event_type = 'error'
    GROUP BY 1, 2
    """,
    description="range join: clicks within 30s before each error (bucketed equi-join)",
)
def q_ev_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    errors = ev.filter(F.col("event_type") == "error").select("user_id", "event_id", "ts_us")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts_us")
    counted = range_join_count(
        errors,
        clicks,
        on="user_id",
        left_time="ts_us",
        right_time="ts_us",
        lower_us=-30_000_000,
        upper_us=0,
        count_alias="n_recent_clicks",
    )
    return counted.select("event_id", "ts_us", "n_recent_clicks")


# --- top-k per group ---------------------------------------------------------
@register(
    "q_ev_topk_per_group",
    """
    SELECT event_type, event_id, value, rk FROM (
      SELECT event_type, event_id, value,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY value DESC, event_id) AS BIGINT) AS rk
      FROM events)
    WHERE rk <= 3
    """,
    description="top-k per group via ranking window",
)
def q_ev_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy(F.col("value").desc(), "event_id")
    return (
        ev.select("event_type", "event_id", "value", F.row_number().over(w).cast("long").alias("rk"))
        .filter(F.col("rk") <= 3)
    )


# --- time-range moving average (RANGE frame) --------------------------------
@register(
    "q_ev_moving_avg",
    """
    SELECT event_id,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) OVER w AS DOUBLE) / (COUNT(*) OVER w) AS mavg_5m,
           CAST(COUNT(*) OVER w AS BIGINT)  AS n_in_window
    FROM (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
                 RANGE BETWEEN 300000000 PRECEDING AND CURRENT ROW)
    """,
    description="time-based moving average: RANGE window frame over µs epoch",
)
def q_ev_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us").rangeBetween(-300_000_000, 0)
    return ev.select(
        "event_id",
        (F.sum(dec6("value")).over(w).cast("double") / F.count(F.lit(1)).over(w)).alias("mavg_5m"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_in_window"),
    )


# --- resample / gap-fill -----------------------------------------------------
@register(
    "q_ev_gapfill",
    """
    WITH bounds AS (
      SELECT CAST(floor(MIN(epoch_us(ts)) / 21600000000) AS BIGINT) AS lo,
             CAST(floor(MAX(epoch_us(ts)) / 21600000000) AS BIGINT) AS hi
      FROM events
    ), grid AS (
      SELECT u.user_id, b.bucket
      FROM (SELECT DISTINCT user_id FROM events) u
      CROSS JOIN (SELECT unnest(generate_series(lo, hi)) AS bucket FROM bounds) b
    ), agg AS (
      SELECT user_id, CAST(floor(epoch_us(ts) / 21600000000) AS BIGINT) AS bucket,
             COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2
    )
    SELECT g.user_id, g.bucket,
           COALESCE(a.n, 0)          AS n,
           COALESCE(a.sum_value, 0)  AS sum_value
    FROM grid g LEFT JOIN agg a ON g.user_id = a.user_id AND g.bucket = a.bucket
    """,
    description="resample: dense 6h time grid per entity with zero-filled gaps",
)
def q_ev_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    bucket = F.expr("ts_us div 21600000000")
    agg = (
        ev.groupBy(F.col("user_id"), bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("sum_value"))
    )
    bounds = ev.agg(
        F.expr("min(ts_us) div 21600000000").alias("lo"), F.expr("max(ts_us) div 21600000000").alias("hi")
    )
    grid = (
        ev.select("user_id").distinct()
        .crossJoin(bounds.select(F.explode(F.sequence("lo", "hi")).alias("bucket")))
    )
    return (
        grid.join(agg, ["user_id", "bucket"], "left")
        .select(
            "user_id",
            "bucket",
            F.coalesce("n", F.lit(0)).alias("n"),
            F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
        )
    )


# --- flagship: avg metric per entity per minute (SURVEY.md §7 M1) -----------
@register(
    "q_ev_minutely",
    """
    SELECT user_id,
           CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS minute_start,
           COUNT(*)             AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) / COUNT(value) AS avg_value
    FROM events
    GROUP BY 1, 2
    """,
    description="flagship M1 query: average metric per entity per minute",
)
def q_ev_minutely(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy("user_id", F.window("ts_utc", "1 minute").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), davg("value").alias("avg_value"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("minute_start"),
            "n_events",
            "avg_value",
        )
    )


# --- time-weighted average ---------------------------------------------------
# Irregular scrape intervals over-weight bursts in a plain AVG; the TWA
# weights each sample by how long its value held (LOCF within the hour —
# exact semantics in operators/timeseries.py). The oracle mirrors the
# window + decimal-weight arithmetic step for step.
@register(
    "q_ev_twa",
    """
    WITH s AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
             (epoch_us(ts) // 3600000000) * 3600000000 AS bucket_us
      FROM events
    ), d AS (
      SELECT user_id, bucket_us, value,
             CAST(COALESCE(lead(ts_us) OVER (PARTITION BY user_id, bucket_us ORDER BY ts_us, event_id),
                           bucket_us + 3600000000) - ts_us AS BIGINT) AS dur
      FROM s
    )
    SELECT user_id, bucket_us,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(dur) AS BIGINT) AS covered_us,
           CAST(SUM(CAST(value AS DECIMAL(15,6)) * dur) AS DOUBLE)
             / CAST(SUM(dur) AS DOUBLE) AS twa
    FROM d
    GROUP BY user_id, bucket_us
    """,
    description="time-weighted hourly average (LOCF-within-bucket durations, exact decimal weights)",
)
def q_ev_twa(spark: SparkSession, sf_dir: str) -> DataFrame:
    from syscol_spark.operators.timeseries import time_weighted_avg

    ev = _events(spark, sf_dir)
    return time_weighted_avg(
        ev, ["user_id"], "ts_us", "value", bucket_us=3_600_000_000, tiebreak_col="event_id"
    )


# --- counter-reset-aware rate ------------------------------------------------
# The events fixture's value column is not a real monotonic counter, so
# resets fire often — which exercises the reset branch heavily; semantics
# and arithmetic are what's under test (operators/timeseries.py).
@register(
    "q_ev_rate",
    """
    WITH s AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             CAST(value AS DECIMAL(15,6)) AS v,
             (epoch_us(ts) // 3600000000) * 3600000000 AS bucket_us
      FROM events
    ), d AS (
      SELECT user_id, bucket_us, ts_us,
             CASE WHEN lag(v) OVER w IS NULL THEN NULL
                  WHEN v >= lag(v) OVER w THEN v - lag(v) OVER w
                  ELSE v END AS inc
      FROM s
      WINDOW w AS (PARTITION BY user_id, bucket_us ORDER BY ts_us, event_id)
    ), g AS (
      SELECT user_id, bucket_us,
             CAST(COUNT(*) AS BIGINT) AS n_samples,
             CAST(MAX(ts_us) - MIN(ts_us) AS BIGINT) AS span_us,
             CAST(SUM(inc) AS DOUBLE) AS total_increase
      FROM d GROUP BY user_id, bucket_us
    )
    SELECT user_id, bucket_us, n_samples, span_us, total_increase,
           total_increase / (CAST(span_us AS DOUBLE) / 1000000.0) AS rate_per_sec
    FROM g WHERE n_samples >= 2 AND span_us > 0
    """,
    description="reset-aware counter rate per hour (Prometheus rate() shape, exact decimal increases)",
)
def q_ev_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from syscol_spark.operators.timeseries import counter_rate

    ev = _events(spark, sf_dir)
    return counter_rate(
        ev, ["user_id"], "ts_us", "value", bucket_us=3_600_000_000, tiebreak_col="event_id"
    )


# --- gap detection -----------------------------------------------------------
# The analytics twin of the collector's dead-host tolerance (S3): find the
# intervals where an entity that should report continuously went silent for
# more than a threshold. One lead() window over (user, ts) — linear, one
# shuffle, no self-join.
@register(
    "q_ev_gaps",
    """
    SELECT user_id, gap_start_us, gap_us
    FROM (
      SELECT user_id, ts_us AS gap_start_us,
             CAST(lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) - ts_us AS BIGINT) AS gap_us
      FROM (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events)
    )
    WHERE gap_us > 600000000
    """,
    description="reporting-gap detection: silences > 10 min per entity via one lead() window",
)
def q_ev_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return (
        ev.select("user_id", "event_id", "ts_us")
        .withColumn("gap_us", (F.lead("ts_us").over(w) - F.col("ts_us")).cast("long"))
        .filter(F.col("gap_us") > 600_000_000)
        .select("user_id", F.col("ts_us").alias("gap_start_us"), "gap_us")
    )


# --- rolling z-score anomaly detection ---------------------------------------
# Engine-stable by construction: mean and variance derive from DECIMAL(27,6)
# sums over the frame (value is 2dp, value² is 4dp — both exact), so both
# engines evaluate the identical double expression tree; no stddev_samp
# (whose accumulation algorithm differs across engines) anywhere.
@register(
    "q_ev_anomaly",
    """
    WITH stats AS (
      SELECT event_id, user_id, epoch_us(ts) AS ts_us, value,
             CAST(COUNT(value) OVER w AS BIGINT) AS n,
             CAST(SUM(CAST(value AS DECIMAL(27,6))) OVER w AS DOUBLE) AS s,
             CAST(SUM(CAST(value AS DECIMAL(27,6)) * CAST(value AS DECIMAL(27,6))) OVER w AS DOUBLE) AS sq
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                   ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, user_id, ts_us, value,
           ROUND((value - s / n) / sqrt((sq - s * s / n) / (n - 1)), 6) AS zscore
    FROM stats
    WHERE n >= 8 AND (sq - s * s / n) / (n - 1) > 0
      AND abs((value - s / n) / sqrt((sq - s * s / n) / (n - 1))) > 3
    """,
    description="rolling z-score anomaly detection (trailing 20-row frame, self-excluded)",
)
def q_ev_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(-20, -1)
    )
    n = F.count("value").over(w).cast("long")
    s = F.sum(dec6("value")).over(w).cast("double")
    sq = F.sum(dec6("value") * dec6("value")).over(w).cast("double")
    stats = ev.select("event_id", "user_id", "ts_us", "value", n.alias("n"), s.alias("s"), sq.alias("sq"))
    var = (F.col("sq") - F.col("s") * F.col("s") / F.col("n")) / (F.col("n") - 1)
    z = (F.col("value") - F.col("s") / F.col("n")) / F.sqrt(var)
    return (
        stats.filter((F.col("n") >= 8) & (var > 0) & (F.abs(z) > 3))
        .select("event_id", "user_id", "ts_us", "value", F.round(z, 6).alias("zscore"))
    )


# --- ordered event funnel ----------------------------------------------------
# view → click → purchase, each step strictly after the previous one's first
# occurrence per user; single-row output with exact counts and rates derived
# from identical longs on both engines.
@register(
    "q_ev_funnel",
    """
    WITH v AS (
      SELECT user_id, MIN(epoch_us(ts)) AS t_view
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t_view
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t_click
      GROUP BY e.user_id
    )
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS n_view,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_click,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_purchase,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM c) * 1.0 / (SELECT COUNT(*) FROM v) AS view_to_click,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM p) * 1.0 / (SELECT COUNT(*) FROM c) AS click_to_purchase
    """,
    description="ordered conversion funnel view→click→purchase (strictly increasing event times)",
)
def q_ev_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE shuffle instead of two join+agg legs plus three count legs (r15,
    # guide §2.3/§2.4): per user, collect the sorted click/purchase time
    # arrays alongside min view time in a single groupBy, then derive the
    # funnel times array-side — t_click = min click strictly after t_view
    # (array_min over a filtered array; a null t_view filters everything
    # out, matching the old inner-join-on-v semantics), t_purchase
    # likewise after t_click. The old shape re-planned v twice and c twice
    # (each a full events scan + agg), so this also removes 4 redundant
    # scans. Counts/rates are exact longs either way.
    ev = _events(spark, sf_dir)
    per_user = (
        ev.filter(F.col("event_type").isin("view", "click", "purchase"))
        .groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "view", F.col("ts_us"))).alias("t_view"),
            F.collect_list(
                F.when(F.col("event_type") == "click", F.col("ts_us"))
            ).alias("__clicks"),
            F.collect_list(
                F.when(F.col("event_type") == "purchase", F.col("ts_us"))
            ).alias("__purchases"),
        )
        .select(
            "t_view",
            F.array_min(
                F.filter("__clicks", lambda t: t > F.col("t_view"))
            ).alias("t_click"),
            "__purchases",
        )
        .select(
            "t_view",
            "t_click",
            F.array_min(
                F.filter("__purchases", lambda t: t > F.col("t_click"))
            ).alias("t_purchase"),
        )
    )
    return per_user.agg(
        F.count("t_view").alias("n_view"),
        F.count("t_click").alias("n_click"),
        F.count("t_purchase").alias("n_purchase"),
    ).select(
        "n_view",
        "n_click",
        "n_purchase",
        (F.col("n_click") * F.lit(1.0) / F.col("n_view")).alias("view_to_click"),
        (F.col("n_purchase") * F.lit(1.0) / F.col("n_click")).alias("click_to_purchase"),
    )


# --- weekly cohort retention -------------------------------------------------
@register(
    "q_ev_retention",
    """
    WITH act AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch_us(ts) / 604800000000) AS BIGINT) AS w
      FROM events
    ), cohort AS (
      SELECT user_id, MIN(w) AS cohort_w FROM act GROUP BY user_id
    )
    SELECT cohort_w, act.w - cohort_w AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM cohort JOIN act USING (user_id)
    GROUP BY cohort_w, act.w - cohort_w
    """,
    description="weekly cohort retention matrix (first-activity cohort × week offset)",
)
def q_ev_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    act = ev.select(
        "user_id", F.expr("ts_us div 604800000000").alias("w")
    ).distinct()
    cohort = act.groupBy("user_id").agg(F.min("w").alias("cohort_w"))
    return (
        cohort.join(act, "user_id")
        .groupBy("cohort_w", (F.col("w") - F.col("cohort_w")).alias("week_offset"))
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# --- CDC latest-wins compaction ----------------------------------------------
# Treat the event stream as a change log keyed (user_id, event_type): one
# output row per key with the LATEST value plus the history envelope
# (version count, first/last change time) — the merge/upsert compaction a
# lake table needs before serving. One groupBy, one shuffle: every windowed
# value of the oracle is per-key-constant, and last_value is max_by over the
# unique ordering struct (ts_us, event_id), the row_number()==1 row of the
# DESC window. The aggregate lives in operators/timeseries.py::cdc_compact,
# which streaming_cdc_compact runs as a streaming aggregation.
@register(
    "q_cdc_compact",
    """
    SELECT user_id, event_type, n_versions, first_us, last_us, last_value
    FROM (
      SELECT user_id, event_type,
             CAST(COUNT(*) OVER k AS BIGINT) AS n_versions,
             MIN(ts_us) OVER k AS first_us,
             MAX(ts_us) OVER k AS last_us,
             LAST_VALUE(value) OVER (PARTITION BY user_id, event_type
                                     ORDER BY ts_us, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS last_value,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts_us DESC, event_id DESC) AS rk
      FROM (SELECT user_id, event_type, event_id, value, epoch_us(ts) AS ts_us FROM events)
      WINDOW k AS (PARTITION BY user_id, event_type)
    ) WHERE rk = 1
    """,
    description="CDC latest-wins compaction: one row per key with latest value + history envelope",
)
def q_cdc_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from syscol_spark.operators.timeseries import cdc_compact

    return cdc_compact(_events(spark, sf_dir))


# --- session path analysis: event-type transition bigrams --------------------
# Markov-ish view of user behavior: count (previous event_type → event_type)
# transitions within each user's time-ordered stream, plus the share of all
# transitions leaving the source state (exact longs → identical doubles).
@register(
    "q_ev_transitions",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
               AS prev_type
      FROM events
    ), pairs AS (
      SELECT prev_type, event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE prev_type IS NOT NULL GROUP BY prev_type, event_type
    )
    SELECT prev_type, event_type, n,
           ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY prev_type), 6) AS p_transition
    FROM pairs
    """,
    description="behavioral transition matrix: event-type bigram counts + row-normalized probabilities",
)
def q_ev_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    seq = ev.select(
        "event_type",
        F.lag("event_type").over(
            Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        ).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    pairs = seq.groupBy("prev_type", "event_type").agg(F.count(F.lit(1)).alias("n"))
    share = F.col("n").cast("double") / F.sum("n").over(Window.partitionBy("prev_type"))
    return pairs.select(
        "prev_type", "event_type", "n", F.round(share, 6).alias("p_transition")
    )


# --- robust outliers: median absolute deviation ------------------------------
# Robust twin of q_ev_anomaly: per-user median and MAD (exact interpolated
# percentiles — Spark percentile ≡ DuckDB quantile_cont on identical value
# sets), flag |x - med| > 5·MAD. Medians of 2dp values interpolate to exact
# quarters, so both engines produce identical doubles with no rounding.
@register(
    "q_ev_mad",
    """
    WITH med AS (
      SELECT user_id, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY user_id
    ), mad AS (
      SELECT e.user_id, quantile_cont(abs(e.value - m.med), 0.5) AS mad,
             any_value(m.med) AS med
      FROM events e JOIN med m ON e.user_id = m.user_id
      GROUP BY e.user_id
    )
    SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us, e.value,
           m.med, m.mad
    FROM events e JOIN mad m ON e.user_id = m.user_id
    WHERE m.mad > 0 AND abs(e.value - m.med) > 5 * m.mad
    """,
    description="robust outlier detection: per-entity median + MAD, flag |x-med| > 5*MAD",
)
def q_ev_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    med = ev.groupBy("user_id").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    mad = (
        ev.join(med, "user_id")
        .groupBy("user_id")
        .agg(
            F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)).alias("mad"),
            F.first("med").alias("med"),
        )
    )
    return (
        ev.join(mad, "user_id")
        .filter((F.col("mad") > 0) & (F.abs(F.col("value") - F.col("med")) > 5 * F.col("mad")))
        .select("event_id", "user_id", "ts_us", "value", "med", "mad")
    )


# --- exponentially weighted moving average -----------------------------------
# Recursive EWMA s_k = a*x_k + (1-a)*s_{k-1} with a = 0.5 over each user's
# last 16 samples. With a power-of-two alpha every multiply is EXACT in IEEE
# doubles, and both engines fold the ordered window list left-to-right
# (Spark ``aggregate``, DuckDB ``list_reduce``), so the result is
# bit-identical across engines with NO rounding step — the strongest parity
# form a float recurrence can have. One shuffle on user_id; the frame is 16
# rows, so state per row is O(1) at any scale.
@register(
    "q_ev_ewma",
    """
    WITH e AS (
      SELECT event_id, user_id, epoch_us(ts) AS ts_us, CAST(value AS DOUBLE) AS v
      FROM events
    ), w AS (
      SELECT event_id, user_id, ts_us,
             list(v) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                           ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS l
      FROM e
    )
    SELECT event_id, user_id, ts_us,
           CASE WHEN len(l) = 1 THEN l[1]
                ELSE list_reduce(l, (acc, x) -> acc * 0.5 + x * 0.5) END AS ewma
    FROM w
    """,
    description="recursive EWMA (alpha=0.5) over 16-sample frames, bit-exact fold",
)
def q_ev_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id").rowsBetween(-15, 0)
    lst = F.collect_list(F.col("value").cast("double")).over(w)
    ewma = F.aggregate(
        F.slice(lst, 2, 16),
        F.element_at(lst, 1),
        lambda acc, x: acc * F.lit(0.5) + x * F.lit(0.5),
    )
    return ev.select("event_id", "user_id", "ts_us", ewma.alias("ewma"))


# --- per-entity linear trend (exact-integer OLS) -----------------------------
# Least-squares slope of value over time per user — the "trend" aggregate of
# a time-series engine (timescaledb stats_agg / PromQL deriv). Cross-engine
# exactness: x = epoch-µs CENTERED per user (x - min(x)), y = floor(value·1e6)
# (long); the slope is shift-invariant, so centering changes nothing
# mathematically, but it shrinks the intermediates from ~n²·epoch² (overflow
# at ~5,900 events/user with raw epoch-µs) to ~n²·span², keeping all OLS
# sums and the num/den combination EXACT integers (Spark DECIMAL(38,0),
# DuckDB HUGEINT) up to ~1e6–1e7 events per user for month-long spans. The
# only float op is one identical IEEE division + scale at the end. The
# centering min() is a window partitioned on the same key as the groupBy, so
# Catalyst reuses one exchange — no extra shuffle. Production note: beyond
# ~1e6 rows/user, switch to float regr_slope (y-centering buys another ~1e2
# if value spreads are small); the exact path is the verification-grade twin.
@register(
    "q_ev_trend",
    """
    WITH raw AS (
      SELECT user_id,
             CAST(epoch_us(ts) AS HUGEINT) AS xr,
             CAST(floor(value * 1000000.0) AS HUGEINT) AS y
      FROM events
    ), pts AS (
      SELECT user_id, xr - MIN(xr) OVER (PARTITION BY user_id) AS x, y
      FROM raw
    ), sums AS (
      SELECT user_id,
             CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(x * y) AS sxy
      FROM pts GROUP BY user_id
    )
    SELECT user_id,
           CAST(n AS BIGINT) AS n_events,
           CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
             * 3600000000.0 AS trend_micro_per_hour
    FROM sums
    WHERE n >= 3 AND n * sxx - sx * sx > 0
    """,
    description="per-user OLS trend slope over event time (exact integer sums on per-user-centered x, one final float division)",
)
def q_ev_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    dec38 = "decimal(38,0)"
    xr = F.col("ts_us").cast(dec38)
    y = F.floor(F.col("value") * 1000000.0).cast("long").cast(dec38)
    xmin = F.min("xr").over(Window.partitionBy("user_id"))
    sums = (
        ev.select("user_id", xr.alias("xr"), y.alias("y"))
        .withColumn("x", (F.col("xr") - xmin).cast(dec38))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast(dec38).alias("n"),
            F.sum("x").cast(dec38).alias("sx"),
            F.sum("y").cast(dec38).alias("sy"),
            F.sum(F.col("x") * F.col("x")).cast(dec38).alias("sxx"),
            F.sum(F.col("x") * F.col("y")).cast(dec38).alias("sxy"),
        )
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return sums.filter((F.col("n") >= 3) & (den > 0)).select(
        "user_id",
        F.col("n").cast("long").alias("n_events"),
        (num.cast("double") / den.cast("double") * 3600000000.0).alias("trend_micro_per_hour"),
    )


# --- concurrent-sessions sweep line ------------------------------------------
# Interval analytics: how many sessions are active at once, at every
# transition instant. Sessions are the same 10-minute-gap session windows as
# q_ev_session (end = last event + gap, exclusive); each session emits +1 at
# start and -1 at end, deltas are NETTED PER TIMESTAMP before the running
# sum (ties between different users would otherwise make the intermediate
# concurrency order-dependent), and one global running sum over the unique
# timestamps yields the concurrency timeline. Scale note: the global window
# orders only transition points (2 rows per session, not per event); at
# volumes where even that breaks, the standard fix is per-partition prefix
# sums + broadcast offsets — same algebra, two scans.
@register(
    "q_ev_concurrency",
    """
    WITH o AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
      FROM events
    ), s AS (
      SELECT user_id, ts_us,
             SUM(CASE WHEN prev_us IS NULL OR ts_us - prev_us >= 600000000 THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
      FROM o
    ), g AS (
      SELECT user_id, sess, MIN(ts_us) AS st, MAX(ts_us) + 600000000 AS en
      FROM s GROUP BY user_id, sess
    ), pts AS (
      SELECT st AS ts_us, 1 AS d FROM g
      UNION ALL
      SELECT en AS ts_us, -1 AS d FROM g
    ), net AS (
      SELECT ts_us, CAST(SUM(d) AS BIGINT) AS net_delta FROM pts GROUP BY ts_us
    )
    SELECT ts_us, net_delta,
           CAST(SUM(net_delta) OVER (ORDER BY ts_us
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS concurrent
    FROM net
    """,
    description="concurrent active sessions at every transition instant (sweep line over session intervals)",
)
def q_ev_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    sess = ev.groupBy(F.session_window("ts_utc", "10 minutes").alias("sw"), "user_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    starts = sess.select(F.unix_micros(F.col("sw.start")).alias("ts_us"), F.lit(1).alias("d"))
    ends = sess.select(F.unix_micros(F.col("sw.end")).alias("ts_us"), F.lit(-1).alias("d"))
    net = starts.unionAll(ends).groupBy("ts_us").agg(F.sum("d").cast("long").alias("net_delta"))
    w = Window.orderBy("ts_us").rowsBetween(Window.unboundedPreceding, 0)
    return net.select(
        "ts_us", "net_delta", F.sum("net_delta").over(w).cast("long").alias("concurrent")
    )


# --- winsorization (robust clipping) -----------------------------------------
# Training-data preprocessing: clip value to the exact nearest-rank
# [p05, p95] per event_type and report the clipped micro-int sum.
# Engine-exactness choices: bounds are NEAREST-RANK picks (the value at rank
# ceil(q*n)) so both engines select the same input double — interpolated
# percentiles differ in the last ulp across engines for non-half fractions;
# and the clipped aggregate is an integer micro sum, immune to float
# addition order.
@register(
    "q_ev_winsorize",
    """
    WITH r AS (
      SELECT event_type, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ), b AS (
      SELECT event_type,
             MIN(CASE WHEN rk >= CAST(CEIL(0.05 * n) AS BIGINT) THEN value END) AS lo,
             MIN(CASE WHEN rk >= CAST(CEIL(0.95 * n) AS BIGINT) THEN value END) AS hi
      FROM r GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ANY_VALUE(b.lo) AS lo, ANY_VALUE(b.hi) AS hi,
           CAST(SUM(CAST(FLOOR(LEAST(GREATEST(e.value, b.lo), b.hi) * 1000000.0) AS BIGINT)) AS BIGINT)
             AS sum_clip_micro
    FROM events e JOIN b ON e.event_type = b.event_type
    GROUP BY e.event_type
    """,
    description="winsorization: exact nearest-rank [p05,p95] clipping per group, integer micro sums",
)
def q_ev_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    wp = Window.partitionBy("event_type")
    r = ev.select(
        "event_type",
        "value",
        F.row_number().over(wp.orderBy("value", "event_id")).alias("rk"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    pick = lambda q: F.min(  # noqa: E731 - value at nearest-rank ceil(q*n)
        F.when(F.col("rk") >= F.ceil(F.lit(q) * F.col("n")).cast("long"), F.col("value"))
    )
    b = r.groupBy("event_type").agg(pick(0.05).alias("lo"), pick(0.95).alias("hi"))
    clip = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return (
        ev.join(b, "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.first("lo").alias("lo"),
            F.first("hi").alias("hi"),
            F.sum(F.floor(clip * 1000000.0).cast("long")).cast("long").alias("sum_clip_micro"),
        )
    )


# --- mergeable quantile-histogram sketch shards --------------------------------
# The quantile counterpart of q_hll_shards' mergeability contract: per-shard
# fixed-width value histograms (bucket = floor(value * 4), width 0.25) merge
# by plain count SUM — adding a day of data costs one shard scan + an
# O(n_buckets) merge, never a resort — and nearest-rank quantiles read off
# the merged cumulative counts with error bounded by the bucket width. All
# integer arithmetic after the one float multiply (value*4.0 is bit-identical
# in both engines); quantile rows report the bucket LOWER BOUND in micro
# units. The two-level aggregation (shard histograms, then merge) is the
# exact plan shape a sharded lake table produces.
@register(
    "q_quantile_shards",
    """
    WITH b AS (
      SELECT event_type, user_id % 8 AS shard,
             CAST(floor(value * 4.0) AS BIGINT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2, 3
    ), m AS (
      SELECT event_type, bucket, CAST(SUM(cnt) AS BIGINT) AS cnt
      FROM b GROUP BY 1, 2
    ), c AS (
      SELECT event_type, bucket, cnt,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY bucket) AS cum,
             SUM(cnt) OVER (PARTITION BY event_type) AS n
      FROM m
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n_events,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(MIN(CASE WHEN cum >= CAST(ceil(0.50 * n) AS BIGINT) THEN bucket END) * 250000 AS BIGINT) AS p50_lo_micro,
           CAST(MIN(CASE WHEN cum >= CAST(ceil(0.95 * n) AS BIGINT) THEN bucket END) * 250000 AS BIGINT) AS p95_lo_micro,
           CAST(MIN(CASE WHEN cum >= CAST(ceil(0.99 * n) AS BIGINT) THEN bucket END) * 250000 AS BIGINT) AS p99_lo_micro
    FROM c GROUP BY event_type
    """,
    description="mergeable quantile-histogram sketch shards: per-shard fixed-width histograms merge by count SUM, nearest-rank p50/p95/p99 off the merged cumulative — bucket-width error bound, no resort on growth",
)
def q_quantile_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    shard_hist = (
        ev.select(
            "event_type",
            F.pmod(F.col("user_id"), F.lit(8)).alias("shard"),
            F.floor(F.col("value") * 4.0).cast("long").alias("bucket"),
        )
        .groupBy("event_type", "shard", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    merged = shard_hist.groupBy("event_type", "bucket").agg(F.sum("cnt").alias("cnt"))
    wc = Window.partitionBy("event_type").orderBy("bucket")
    wn = Window.partitionBy("event_type")
    c = merged.select(
        "event_type",
        "bucket",
        "cnt",
        F.sum("cnt").over(wc.rowsBetween(Window.unboundedPreceding, Window.currentRow)).alias("cum"),
        F.sum("cnt").over(wn).alias("n"),
    )

    def pick(q: float):
        return F.min(
            F.when(
                F.col("cum") >= F.ceil(F.lit(q) * F.col("n")).cast("long"),
                F.col("bucket"),
            )
        )

    return c.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_events"),
        F.count(F.lit(1)).alias("n_buckets"),
        (pick(0.50) * 250_000).cast("long").alias("p50_lo_micro"),
        (pick(0.95) * 250_000).cast("long").alias("p95_lo_micro"),
        (pick(0.99) * 250_000).cast("long").alias("p99_lo_micro"),
    )


# --- SLO burn rate (multi-window alert) --------------------------------------
# The SRE-workbook multiwindow burn-rate alert over the event stream: error
# ratio vs a 25% error budget on a short (1 h) and a long (6 h) window,
# alert only when BOTH burn rates exceed 1.2 — the standard construction
# that suppresses both blips (short-only) and stale pages (long-only).
# Integer counts + one division per window, 6-dp rounded before the
# threshold compare on both engines. Window alignment: Spark's F.window
# aligns to epoch multiples, mirrored as epoch_us integer division.
@register(
    "q_ev_burn_rate",
    """
    WITH h AS (
      SELECT (epoch_us(ts) // 3600000000) * 3600 AS h_start,
             CAST(COUNT(*) AS BIGINT) AS n_1h,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS err_1h
      FROM events GROUP BY 1
    ), s AS (
      SELECT (epoch_us(ts) // 21600000000) * 21600 AS s_start,
             CAST(COUNT(*) AS BIGINT) AS n_6h,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS err_6h
      FROM events GROUP BY 1
    )
    SELECT h.h_start, n_1h, err_1h,
           ROUND((CAST(err_1h AS DOUBLE) / n_1h) / 0.25, 6) AS burn_1h,
           n_6h, err_6h,
           ROUND((CAST(err_6h AS DOUBLE) / n_6h) / 0.25, 6) AS burn_6h,
           (ROUND((CAST(err_1h AS DOUBLE) / n_1h) / 0.25, 6) > 1.2
            AND ROUND((CAST(err_6h AS DOUBLE) / n_6h) / 0.25, 6) > 1.2) AS alert
    FROM h JOIN s ON (h.h_start // 21600) * 21600 = s.s_start
    """,
    description="SLO multiwindow burn-rate alert (SRE workbook): 1h and 6h error-budget burn, alert when both exceed 1.2x",
)
def q_ev_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    err = F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
    h = (
        ev.groupBy(F.window("ts_utc", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_1h"), err.alias("err_1h"))
        .select(F.unix_timestamp(F.col("w.start")).alias("h_start"), "n_1h", "err_1h")
    )
    s = (
        ev.groupBy(F.window("ts_utc", "6 hours").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_6h"), err.alias("err_6h"))
        .select(F.unix_timestamp(F.col("w.start")).alias("s_start"), "n_6h", "err_6h")
    )
    burn_1h = F.round((F.col("err_1h").cast("double") / F.col("n_1h")) / 0.25, 6)
    burn_6h = F.round((F.col("err_6h").cast("double") / F.col("n_6h")) / 0.25, 6)
    return (
        h.join(s, (F.col("h_start") - F.pmod(F.col("h_start"), 21600)) == F.col("s_start"))
        .select(
            "h_start",
            "n_1h",
            "err_1h",
            burn_1h.alias("burn_1h"),
            "n_6h",
            "err_6h",
            burn_6h.alias("burn_6h"),
            ((burn_1h > 1.2) & (burn_6h > 1.2)).alias("alert"),
        )
    )


# --- capped-duration sessionization -------------------------------------------
# The GA-style session rule Spark's native session_window cannot express:
# inactivity-gap sessions (10 min) are additionally SPLIT at fixed
# max-duration offsets (4 min here, sized to the fixture's 9.8-min max
# session) from each session's first event. Pure window arithmetic — the
# split boundary is an integer div of the offset from the session anchor,
# so no iteration is needed and every window shares the user_id
# partitioning (one shuffle). Exact integer microseconds end-to-end.
@register(
    "q_ev_session_capped",
    """
    WITH o AS (
      SELECT user_id, event_id, value, epoch_us(ts) AS ts_us,
             LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
      FROM events
    ), s AS (
      SELECT user_id, event_id, ts_us, value,
             SUM(CASE WHEN prev_us IS NULL OR ts_us - prev_us >= 600000000 THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
      FROM o
    ), a AS (
      SELECT user_id, ts_us, value, sess,
             MIN(ts_us) OVER (PARTITION BY user_id, sess) AS anchor_us,
             (ts_us - MIN(ts_us) OVER (PARTITION BY user_id, sess)) // 240000000 AS sub
      FROM s
    )
    SELECT user_id,
           CAST(anchor_us AS BIGINT) AS session_start_us,
           CAST(sub AS BIGINT) AS sub_session,
           CAST(MIN(ts_us) AS BIGINT) AS sub_start_us,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MAX(ts_us) - MIN(ts_us) AS BIGINT) AS duration_us
    FROM a GROUP BY user_id, anchor_us, sub
    """,
    description="capped-duration sessionization: 10-min inactivity sessions split at fixed 4-min offsets from the session anchor (the rule native session_window lacks)",
)
def q_ev_session_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _events(spark, sf_dir).select("user_id", "event_id", "ts_us", "value")
    w_ord = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    prev = F.lag("ts_us").over(w_ord)
    brk = F.when(prev.isNull() | (F.col("ts_us") - prev >= 600_000_000), 1).otherwise(0)
    s = ev.withColumn(
        "sess",
        F.sum(brk).over(w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    w_sess = Window.partitionBy("user_id", "sess")
    a = s.withColumn("anchor_us", F.min("ts_us").over(w_sess)).withColumn(
        "sub", F.expr("(ts_us - anchor_us) div 240000000")
    )
    return a.groupBy(
        "user_id",
        F.col("anchor_us").alias("session_start_us"),
        F.col("sub").alias("sub_session"),
    ).agg(
        F.min("ts_us").alias("sub_start_us"),
        F.count(F.lit(1)).alias("n_events"),
        (F.max("ts_us") - F.min("ts_us")).alias("duration_us"),
    )


# --- SCD Type-2 history from the change stream --------------------------------
# The other half of CDC materialization next to latest-wins compaction
# (q_cdc_compact): slowly-changing-dimension Type 2 — every version of a
# (user, event_type) key becomes a validity interval [valid_from, valid_to)
# with an is_current flag, via one lead() over the key window. This is how
# a lakehouse dimension table answers "what was the value AT time t" with a
# plain range predicate instead of replaying the log. One shuffle on the
# key; exact integer microseconds; summed values emitted per version row
# keep the hash stable (value itself is exact from parquet).
@register(
    "q_cdc_scd2",
    """
    SELECT user_id, event_type,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
           ts_us AS valid_from_us,
           LEAD(ts_us) OVER w AS valid_to_us,
           (LEAD(ts_us) OVER w IS NULL) AS is_current,
           CAST(value AS DOUBLE) AS value
    FROM (SELECT user_id, event_type, event_id, value, epoch_us(ts) AS ts_us FROM events
          WHERE user_id % 50 = 0)
    WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts_us, event_id)
    """,
    description="CDC SCD Type-2 materialization: per-key version rows with [valid_from, valid_to) intervals and is_current flag",
)
def q_cdc_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).filter(F.col("user_id") % 50 == 0)
    w = Window.partitionBy("user_id", "event_type").orderBy("ts_us", "event_id")
    return ev.select(
        "user_id",
        "event_type",
        F.row_number().over(w).cast("long").alias("version"),
        F.col("ts_us").alias("valid_from_us"),
        F.lead("ts_us").over(w).alias("valid_to_us"),
        F.lead("ts_us").over(w).isNull().alias("is_current"),
        F.col("value").cast("double").alias("value"),
    )


# --- time-constrained conversion funnel --------------------------------------
# The product-analytics form of q_ev_funnel: each step must happen within
# 24 h of the previous step, not just after it — unbounded ordered funnels
# overcount conversions on long-lived users (a click three weeks after the
# view is not a conversion). Same first-qualifying-event semantics,
# same semi-join shape, one extra range predicate per step.
@register(
    "q_ev_funnel_windowed",
    """
    WITH v AS (
      SELECT user_id, MIN(epoch_us(ts)) AS t_view
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click'
        AND epoch_us(e.ts) > v.t_view
        AND epoch_us(e.ts) - v.t_view <= 86400000000
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase'
        AND epoch_us(e.ts) > c.t_click
        AND epoch_us(e.ts) - c.t_click <= 86400000000
      GROUP BY e.user_id
    )
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS n_view,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_click,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_purchase,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM c) * 1.0 / (SELECT COUNT(*) FROM v) AS view_to_click,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM p) * 1.0 / (SELECT COUNT(*) FROM c) AS click_to_purchase
    """,
    description="time-constrained funnel: view -> click -> purchase with each step within 24h of the previous (the product-analytics conversion rule)",
)
def q_ev_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    day_us = 86_400_000_000
    v = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts_us").alias("t_view")
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter((F.col("ts_us") > F.col("t_view")) & (F.col("ts_us") - F.col("t_view") <= day_us))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts_us") > F.col("t_click")) & (F.col("ts_us") - F.col("t_click") <= day_us)
        )
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t_purchase"))
    )
    counts = (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_click")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchase")))
    )
    return counts.select(
        "n_view",
        "n_click",
        "n_purchase",
        (F.col("n_click") * 1.0 / F.col("n_view")).alias("view_to_click"),
        (F.col("n_purchase") * 1.0 / F.col("n_click")).alias("click_to_purchase"),
    )
