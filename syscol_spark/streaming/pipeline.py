"""The reference's data plane as one Structured Streaming pipeline:

    metrics_snapshot source → envelope enrich (P1) → serialize (P2|P3, picked
    by config like the reference's ctor switch metrics_reporter.go:67-70) →
    Kafka sink (K1-K3) with processingTime trigger (S2).

Delivery semantics: the reference is at-most-once (acks=1, no retries,
kafka_producer.go:67); checkpointed Structured Streaming gives at-least-once
— a strict upgrade, with possible duplicates on recovery (documented delta,
SURVEY.md §2.5 K3).

Without a Kafka broker/connector (this container has neither), the same
serialized frame goes to a ``foreachBatch`` sink for tests — identical bytes,
different transport.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter

from syscol_spark.config import TRANSFORM_AVRO, TRANSFORM_NONE, CollectorConfig, parse_producer_properties
from syscol_spark.functions.confluent import register_envelope_schema, to_confluent_avro
from syscol_spark.functions.envelope import enrich_envelope, envelope_to_json


def kafka_sink_available(spark: SparkSession) -> bool:
    """True iff the spark-sql-kafka connector is on the classpath."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:  # noqa: BLE001
        return False


def serialized_value(envelope: F.Column, config: CollectorConfig) -> F.Column:
    """P4 transform dispatch: plan-time choice of the value expression."""
    if config.transform == TRANSFORM_NONE:
        return envelope_to_json(envelope).cast("binary")
    if config.transform == TRANSFORM_AVRO:
        schema_id = register_envelope_schema(config.schema_registry_url)
        return to_confluent_avro(envelope, schema_id)
    raise ValueError(f"unknown transform {config.transform!r}")


def enriched_stream(spark: SparkSession, config: CollectorConfig) -> DataFrame:
    """Source + P1: envelope column per scrape row. The source learns the
    core count from the ``partitions`` option because its reader runs in a
    Python process with no SparkContext to ask."""
    from syscol_spark.sources.metrics_http import MetricsSnapshotDataSource

    try:
        spark.dataSource.register(MetricsSnapshotDataSource)
    except Exception:  # noqa: BLE001 — already registered
        pass
    raw = (
        spark.readStream.format("metrics_snapshot")
        .option("hosts", ",".join(config.hosts) or "localhost")
        .option("port", str(config.port))
        .option("namespace", config.namespace)
        .option("interval", str(config.reporting_interval_secs))
        .option("partitions", str(spark.sparkContext.defaultParallelism))
        .load()
    )
    env = enrich_envelope(
        F.col("Metrics"),
        slave_id=F.col("SlaveID"),
        hostname=F.col("Hostname"),
        port=F.col("Port"),
        namespace=F.col("Namespace"),
        timestamp_ns=F.col("Timestamp"),
    )
    return raw.select(env.alias("envelope"), F.col("error"))


def build_pipeline(
    spark: SparkSession,
    config: CollectorConfig,
    *,
    checkpoint_dir: str,
    key_by_slave: bool = False,
) -> DataStreamWriter:
    """Full write pipeline, ready for .start().

    ``key_by_slave=False`` reproduces the reference's null-key produce
    (metrics_reporter.go:96 → random partition placement, no per-slave
    ordering). ``True`` is the documented improvement: key=SlaveID gives
    per-slave ordering via Kafka's hash partitioner.
    """
    stream = enriched_stream(spark, config)
    out = stream.select(
        (F.col("envelope.SlaveID").cast("binary") if key_by_slave else F.lit(None).cast("binary")).alias("key"),
        serialized_value(F.col("envelope"), config).alias("value"),
    )
    writer = (
        out.writeStream.trigger(processingTime=f"{config.reporting_interval_secs} seconds")
        .option("checkpointLocation", checkpoint_dir)
    )
    if kafka_sink_available(spark):
        props = parse_producer_properties(config.producer_properties) if config.producer_properties else {}
        writer = writer.format("kafka").option("topic", config.topic)
        # K2/K3 passthrough: batch.size / linger.ms / acks etc.
        for k, v in props.items():
            writer = writer.option(f"kafka.{k}", v)
        return writer
    # test fallback: identical frame, parquet transport
    sink_dir = f"{checkpoint_dir}_out"
    return writer.format("parquet").option("path", sink_dir)


def idempotent_parquet_sink(out_dir: str):
    """Exactly-once discipline for ``foreachBatch`` sinks (K3 upgrade).

    Checkpointed Structured Streaming is at-least-once at the sink: after a
    crash mid-batch, the SAME epoch is replayed with the SAME ``batch_id``,
    and an append-mode sink would keep whatever rows the first attempt
    already landed — duplicates. The standard fix is to key every write by
    ``batch_id`` and make it a replace, not an append: each batch writes
    into its own ``batch_id=<n>`` partition with dynamic partition
    overwrite, so a replayed epoch REPLACES its own partial output and
    leaves every other epoch's partition untouched. Readers see exactly-once
    output without any transaction log, on any object store.

    (The built-in streaming file sink gets the same guarantee from its
    ``_spark_metadata`` log; this pattern is for foreachBatch sinks — JDBC,
    plain parquet dirs, anything without a txn log. For Kafka itself —
    an APPEND-ONLY transport where replacing a partition is impossible —
    the equivalent is the embedded-``txn_id`` + consumer-dedup pattern
    implemented below: ``with_txn_ids`` / ``kafka_txn_append_sink`` /
    ``dedup_consumed``.)

    Usage::

        q = (df.writeStream.foreachBatch(idempotent_parquet_sink(out))
               .option("checkpointLocation", ckpt).start())
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if "batch_id" in batch_df.columns:
            raise ValueError(
                "column name batch_id is reserved by idempotent_parquet_sink"
            )
        (
            batch_df.withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_dir)
        )

    return sink


def with_txn_ids(
    batch_df: DataFrame, batch_id: int, id_cols: list[str] | None = None
) -> DataFrame:
    """Stamp every row of a foreachBatch batch with a ``txn_id`` that is
    IDENTICAL across replays of the same epoch — the exactly-once building
    block for APPEND-ONLY transports (Kafka) where a replayed epoch cannot
    replace its own output the way ``idempotent_parquet_sink`` does.

    Structured Streaming replays a crashed epoch with the same ``batch_id``
    and the same row multiset, so a txn_id derived only from
    (batch_id, row content, duplicate ordinal) reproduces exactly on
    replay::

        txn_id = batch_id - xxhash64(id_cols...) - ordinal

    where ``ordinal`` numbers byte-identical duplicate rows 1..n within the
    batch (all rows in a hash group are identical, so ANY ordering assigns
    the same multiset of ids — deterministic without a sort key). Consumers
    then dedup on txn_id (``dedup_consumed``) for an exactly-once view over
    the at-least-once stream.

    This is the honest upgrade of the reference's at-most-once produce
    (syscol/metrics_reporter.go:96 → siesta-producer/kafka_producer.go:67,
    acks=1 / no retries): checkpointing makes delivery at-least-once, the
    embedded txn_id makes CONSUMPTION exactly-once.

    Scale: the only added shuffle is the window over (batch_id, row hash) —
    partitions by a near-unique hash, so no skew; duplicate groups are tiny.
    ``id_cols`` defaults to all columns; pass an explicit natural key when
    rows carry nondeterministic columns (ingest timestamps) that would
    change the hash across replays.
    """
    if "txn_id" in batch_df.columns:
        raise ValueError("column name txn_id is reserved by with_txn_ids")
    from pyspark.sql import Window

    cols = id_cols or batch_df.columns
    row_hash = F.xxhash64(*[F.col(c) for c in cols])
    ordinal = F.row_number().over(
        Window.partitionBy(row_hash).orderBy(F.lit(1))
    )
    return batch_df.withColumn(
        "txn_id",
        F.concat_ws(
            "-",
            F.lit(int(batch_id)).cast("string"),
            row_hash.cast("string"),
            ordinal.cast("string"),
        ),
    )


def kafka_txn_append_sink(out_dir: str, id_cols: list[str] | None = None):
    """foreachBatch sink modeling the Kafka produce path: append-only
    transport (duplicates on replay, exactly like a re-produced epoch) with
    every record stamped by ``with_txn_ids``. Readers recover exactly-once
    with ``dedup_consumed``. Same bytes-level framing as the Kafka leg —
    parquet is just the transport this container has (no broker)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        with_txn_ids(batch_df, batch_id, id_cols).write.mode("append").parquet(out_dir)

    return sink


def dedup_consumed(df: DataFrame) -> DataFrame:
    """Consumer-side exactly-once view over an at-least-once txn_id stream:
    keep one row per txn_id. On a real cluster this is the consumer's
    idempotent upsert (MERGE on txn_id) or checkpointed drop-duplicates
    state; here it is the batch equivalent. One shuffle on a near-unique
    key — no skew, linear at any scale."""
    if "txn_id" not in df.columns:
        raise ValueError("dedup_consumed requires a txn_id column (see with_txn_ids)")
    return df.dropDuplicates(["txn_id"])
