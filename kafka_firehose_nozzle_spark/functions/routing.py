"""Event-type -> Kafka topic routing expressions.

Reference: ``KafkaProducer.input`` switch (kafka.go:305-340) computes a
destination topic per event; ``fmtTopic`` (kafka.go:183-188) substitutes the
application id into a ``%s`` template when configured. An empty resolved
topic means "drop" (kafka.go:333-338) — expressed here as NULL so the
pipeline can ``filter(topic IS NOT NULL)`` (P2) and Catalyst can push the
whole thing into one projection.

Like the reference's switch, each templated case reads only its own
event's app id (kafka.go:312, 315, 327), and the HttpStartStop UUID
rendering is built only when its template is set. An app-id ``CASE``
shared by all types, UUID rendering included, would be copied into each
template and grow the routed projection's generated method past HotSpot's
8000-byte compile limit, so that it would run interpreted on every row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafka_firehose_nozzle_spark import schemas
from kafka_firehose_nozzle_spark.config import TopicConfig
from kafka_firehose_nozzle_spark.functions.uuid_codec import uuid_to_str


def _fmt_topic(topic: str, topic_fmt: str, app_id: Column | None = None) -> Column:
    """fmtTopic (kafka.go:183-188): %s template over app id, else static.

    Go's Sprintf("%s", nil-string) renders ""; format_string on a NULL
    column yields NULL, so coalesce the app id to "" first. An empty static
    topic -> NULL (drop marker).
    """
    if topic_fmt:
        return F.format_string(topic_fmt, F.coalesce(app_id, F.lit("")))
    if topic:
        return F.lit(topic)
    return F.lit(None).cast("string")


def route_topic_expr(df: DataFrame, topics: TopicConfig) -> Column:
    """Destination-topic column (P1+P3; kafka.go:305-340).

    Unknown event types and disabled (empty) topics resolve to NULL.
    The whole dispatch is a single CASE WHEN — one codegen'd projection,
    no shuffle, no UDF.
    """
    return _topic_case(
        df["eventType"],
        topics,
        log_app=df["logMessage.app_id"],
        cm_app=df["containerMetric.applicationId"],
        hss_low=df["httpStartStop.applicationId.low"],
        hss_high=df["httpStartStop.applicationId.high"],
    )


def route_topic_from_wire(raw: Column, topics: TopicConfig) -> Column:
    """Destination topic computed DIRECTLY from a parsed sonde-JSON wire
    struct (``from_json(value, _decode_read_schema())``), skipping the
    full Envelope-column materialization.

    Identical dispatch to ``route_topic_expr`` over
    ``envelopes_from_json(...)`` — same ``_topic_case``, same uint64
    two's-complement wrap (``sonde_json._signed``) on the HttpStartStop
    applicationId before the uuid rendering, same Go-nil-safe coalesce
    to the zero UUID — but because every field access stays inside ONE
    projection over the parse, Catalyst's OptimizeJsonExprs prunes the
    parse schema to the handful of leaves routing touches instead of
    parsing all ~25 envelope fields to build structs that are then read
    once (guide §6 "filters on derived columns do not push down" /
    §7.3 plan-size): measured 1.36 s vs 2.00 s for the roundtrip
    decode+route aggregation at sf0.1, results identical (pinned by
    tests/test_routing.py::test_route_topic_from_wire_matches_envelope_path).
    Count-style consumers only; forwarding pipelines that need the
    decoded envelope columns keep the envelopes_from_json path."""
    from kafka_firehose_nozzle_spark.functions.sonde_json import _signed

    hss_id = raw.getField("httpStartStop").getField("applicationId")
    return _topic_case(
        raw.getField("eventType"),
        topics,
        log_app=raw.getField("logMessage").getField("app_id"),
        cm_app=raw.getField("containerMetric").getField("applicationId"),
        hss_low=_signed(hss_id.getField("low")),
        hss_high=_signed(hss_id.getField("high")),
    )


def _topic_case(
    et: Column,
    topics: TopicConfig,
    *,
    log_app: Column,
    cm_app: Column,
    hss_low: Column,
    hss_high: Column,
) -> Column:
    """The per-event-type topic dispatch (kafka.go:305-340), shared by
    route_topic_expr (envelope columns) and route_topic_from_wire
    (parsed wire struct) so there is ONE implementation of the CASE.

    Each templated type formats its own app id: LogMessage
    ``logMessage.app_id``, ContainerMetric ``containerMetric.applicationId``,
    HttpStartStop ``uuid2str(applicationId)``. Go's nil-safe getters render
    a missing HttpStartStop applicationId as the zero UUID (uuid2str(nil)
    -> GetLow()==0), so its halves default to 0 rather than NULL.
    """
    hss_app = None
    if topics.http_start_stop_fmt:
        hss_app = uuid_to_str(
            F.struct(
                F.coalesce(hss_low, F.lit(0)).alias("low"),
                F.coalesce(hss_high, F.lit(0)).alias("high"),
            )
        )

    return (
        F.when(
            et == schemas.HTTP_START_STOP,
            _fmt_topic(topics.http_start_stop, topics.http_start_stop_fmt, hss_app),
        )
        .when(
            et == schemas.LOG_MESSAGE,
            _fmt_topic(topics.log_message, topics.log_message_fmt, log_app),
        )
        .when(et == schemas.VALUE_METRIC, _fmt_topic(topics.value_metric, ""))
        .when(et == schemas.COUNTER_EVENT, _fmt_topic(topics.counter_event, ""))
        .when(et == schemas.ERROR, _fmt_topic(topics.error, ""))
        .when(
            et == schemas.CONTAINER_METRIC,
            _fmt_topic(topics.container_metric, topics.container_metric_fmt, cm_app),
        )
        .otherwise(F.lit(None).cast("string"))
    )
