"""Streaming job assembly (reference CLI.Run, cli.go:73-376).

Wires source -> routing transform -> sink with the stats listener, the
Spark restatement of the goroutine DAG in SURVEY.md §3.2. One function
per concern so tests can assemble partial pipelines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_firehose_nozzle_spark import schemas
from kafka_firehose_nozzle_spark.config import Config
from kafka_firehose_nozzle_spark.pipeline import route_envelopes_config
from kafka_firehose_nozzle_spark.stats import (
    Stats,
    make_streaming_listener,
    observe_decode,
)


def firehose_stream(spark: SparkSession, config: Config, **extra_options) -> DataFrame:
    """Streaming envelope DataFrame (ENVELOPE_SCHEMA columns) from the
    firehose DataSource (SRC1/SRC2; options map config.go fields).

    Frames that fail to decode are split off here: ``observe_decode``
    counts them into ``consume_fail`` and hands their error and raw
    bytes to the stats listener, which logs each at WARN."""
    from kafka_firehose_nozzle_spark.sources.firehose import FirehoseDataSource

    spark.dataSource.register(FirehoseDataSource)
    reader = (
        spark.readStream.format("firehose")
        .option("dopplerAddress", config.cf.doppler_address)
        .option("subscriptionID", config.subscription_id)
        .option("uaaAddress", config.cf.uaa_address)
        .option("username", config.cf.username)
        .option("password", config.cf.password)
        .option("token", config.cf.token)
        .option(
            "insecureSSLSkipVerify",
            "true" if config.insecure_ssl_skip_verify else "false",
        )
    )
    if config.cf.idle_timeout:
        reader = reader.option("idleTimeout", str(config.cf.idle_timeout))
    if config.cf.retry_count:
        reader = reader.option("retryCount", str(config.cf.retry_count))
    for k, v in extra_options.items():
        reader = reader.option(k, str(v))
    good = observe_decode(reader.load()).filter(F.col("_decode_error").isNull())
    return good.select(*schemas.ENVELOPE_SCHEMA.fieldNames())


def file_replay_stream(spark: SparkSession, path: str) -> DataFrame:
    """Replayable test source: parquet directory of ENVELOPE_SCHEMA rows."""
    return spark.readStream.schema(schemas.ENVELOPE_SCHEMA).parquet(path)


class PipelineHandle:
    """A running pipeline: query + stats + its listener.

    Listener callbacks are delivered asynchronously; ``wait_for_stats``
    polls until the consume counter reaches ``n`` (or times out), which
    tests need after ``processAllAvailable()``.
    """

    def __init__(self, spark: SparkSession, query, stats: Stats, listener):
        self.spark = spark
        self.query = query
        self.stats = stats
        self._listener = listener

    def wait_for_stats(self, n: int, timeout: float = 30.0) -> None:
        import time

        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            if self.stats.get("consume") >= n:
                return
            time.sleep(0.05)

    def stop(self) -> None:
        try:
            self.query.stop()
        finally:
            self.spark.streams.removeListener(self._listener)


def start_pipeline(
    spark: SparkSession,
    envelopes: DataFrame,
    config: Config,
    checkpoint: str,
    sink: str = "kafka",
    stats: Stats | None = None,
    memory_sink_name: str = "nozzle_out",
    transform=None,
) -> PipelineHandle:
    """Transform + sink + stats listener.

    ``sink``: kafka (K1) | console (K6, -debug mode) | memory (tests).
    ``transform``: optional DataFrame -> DataFrame stage applied to the
    envelope stream BEFORE routing (e.g.
    ``streaming.stateful.dedup_envelopes`` for the ST1
    effectively-once upgrade); the consume counters then observe the
    post-transform stream, matching where the reference counts
    (kafka.go:308-331 counts what reaches the producer loop).
    """
    stats = stats or Stats()
    listener = make_streaming_listener(stats)
    # registered BEFORE the query starts (or its first batches would go
    # uncounted) — so any construction failure below must unregister
    # it, or the orphan keeps counting every other query on the shared
    # session and repeated failed attempts stack listeners
    spark.streams.addListener(listener)
    try:
        if transform is not None:
            envelopes = transform(envelopes)
        routed = route_envelopes_config(envelopes, config, with_observe=True)

        if sink == "kafka":
            from kafka_firehose_nozzle_spark.sinks.kafka import (
                write_stream_kafka,
            )

            query = write_stream_kafka(routed, config, checkpoint)
        elif sink == "console":
            from kafka_firehose_nozzle_spark.sinks.debug import (
                write_stream_console,
            )

            query = write_stream_console(routed, checkpoint)
        elif sink == "memory":
            from kafka_firehose_nozzle_spark.sinks.debug import (
                write_stream_memory,
            )

            query = write_stream_memory(routed, memory_sink_name, checkpoint)
        else:
            raise ValueError(f"unknown sink: {sink}")
    except BaseException:
        spark.streams.removeListener(listener)
        raise
    # scope the listener to THIS query now that its id exists — without
    # this, two pipelines on one session double-count each other's
    # observations and sink rows (same observation names)
    listener.query_id = str(query.id)
    return PipelineHandle(spark, query, stats, listener)
