"""Adapter: the driver's TPC-H-ish ``events`` table -> Envelope stream.

Lets the real routing pipeline (pipeline.py, parity with kafka.go:305-340)
run over driver-generated parquet so the DuckDB oracle can check routing
semantics end-to-end. Mapping of the synthetic ``event_type`` strings onto
the reference's six envelope types:

    view     -> HttpStartStop (4)
    click    -> LogMessage    (5)
    purchase -> ValueMetric   (6)
    signup   -> CounterEvent  (7)
    error    -> Error         (8)
    (else)   -> unknown       (-1)

The app id is derived deterministically as ``app-<user_id>`` so templated
topics (fmtTopic, kafka.go:183-188) are exercised and reproducible in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_firehose_nozzle_spark import schemas

EVENT_TYPE_MAP = {
    "view": schemas.HTTP_START_STOP,
    "click": schemas.LOG_MESSAGE,
    "purchase": schemas.VALUE_METRIC,
    "signup": schemas.COUNTER_EVENT,
    "error": schemas.ERROR,
}


def _ts_micros(events: DataFrame) -> F.Column:
    """Epoch-microseconds of ``ts`` regardless of how the parquet was
    written: TIMESTAMP (tz-aware), TIMESTAMP_NTZ (plain ``timestamp[us]``
    with no isAdjustedToUTC — what the driver's generator emits now), or
    LongType nanos (``timestamp[ns]`` under
    spark.sql.legacy.parquet.nanosAsLong). The session time zone is pinned
    to UTC (session.py), so casting NTZ -> TIMESTAMP is value-preserving
    and matches DuckDB's naive-timestamp epoch extraction.
    """
    import pyspark.sql.types as T

    dt = events.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        return (F.col("ts") / F.lit(1000)).cast("long")
    if isinstance(dt, T.TimestampNTZType):
        return F.unix_micros(F.col("ts").cast("timestamp"))
    return F.unix_micros(F.col("ts"))


def events_to_envelopes(events: DataFrame) -> DataFrame:
    """events(event_id, ts, user_id, event_type, value, props) -> ENVELOPE_SCHEMA.

    Two stacked narrow projections — no shuffle; at 100 TB both fuse into
    the scan and routing stages under whole-stage codegen. The event-type
    CASE is materialized in the first projection so the payload structs
    reference a cheap int column: inlining the 5-branch string CASE into
    every struct (and again into every pushed-down predicate) multiplies
    the expression tree ~10x and puts seconds of Catalyst analysis time on
    every query over this adapter. (CollapseProject leaves the split alone
    because the CASE is non-cheap and referenced many times.)
    """
    et_col = F.col("event_type")
    et_case = F.lit(None).cast("int")
    for name, code in EVENT_TYPE_MAP.items():
        et_case = F.when(et_col == name, F.lit(code)).otherwise(et_case)
    et_case = F.coalesce(et_case, F.lit(-1))

    events = events.select(
        "*", et_case.alias("_et"), _ts_micros(events).alias("_ts_us")
    )
    et = F.col("_et")

    app_id = F.format_string("app-%d", F.col("user_id"))
    ts_ns = (F.col("_ts_us") * 1000).alias("timestamp")

    return events.select(
        F.format_string("origin-%d", F.pmod(F.col("user_id"), F.lit(4))).alias(
            "origin"
        ),
        et.alias("eventType"),
        ts_ns,
        F.lit(None).cast("string").alias("deployment"),
        F.lit(None).cast("string").alias("job"),
        F.lit(None).cast("string").alias("index"),
        F.lit(None).cast("string").alias("ip"),
        F.lit(None).cast("map<string,string>").alias("tags"),
        F.when(
            et == schemas.HTTP_START_STOP,
            F.named_struct(
                F.lit("startTimestamp"), F.col("_ts_us") * 1000,
                F.lit("stopTimestamp"),
                F.col("_ts_us") * 1000 + (F.col("value") * 1e6).cast("long"),
                F.lit("requestId"), F.named_struct(
                    F.lit("low"), F.col("event_id"),
                    F.lit("high"), F.col("user_id"),
                ),
                F.lit("peerType"), F.lit(schemas.PEER_TYPE_SERVER),
                F.lit("method"), F.lit(1),
                F.lit("uri"), F.format_string("/page/%d", F.col("event_id")),
                F.lit("remoteAddress"), F.lit("10.0.0.1"),
                F.lit("userAgent"), F.lit("ua"),
                F.lit("statusCode"), F.lit(200),
                F.lit("contentLength"), (F.col("value") * 100).cast("long"),
                F.lit("applicationId"), F.named_struct(
                    F.lit("low"), F.col("user_id"), F.lit("high"), F.lit(0).cast("long")
                ),
                F.lit("instanceIndex"), F.lit(0),
                F.lit("instanceId"), F.lit(None).cast("string"),
                F.lit("forwarded"), F.lit(None).cast("array<string>"),
            ),
        ).alias("httpStartStop"),
        F.when(
            et == schemas.LOG_MESSAGE,
            F.named_struct(
                F.lit("message"), F.encode(F.col("props"), "utf-8"),
                F.lit("message_type"), F.lit(schemas.MESSAGE_TYPE_OUT),
                F.lit("timestamp"), F.col("_ts_us") * 1000,
                F.lit("app_id"), app_id,
                F.lit("source_type"), F.lit("APP"),
                F.lit("source_instance"), F.lit(None).cast("string"),
            ),
        ).alias("logMessage"),
        F.when(
            et == schemas.VALUE_METRIC,
            F.named_struct(
                F.lit("name"), F.lit("purchase_amount"),
                F.lit("value"), F.col("value"),
                F.lit("unit"), F.lit("usd"),
            ),
        ).alias("valueMetric"),
        F.when(
            et == schemas.COUNTER_EVENT,
            F.named_struct(
                F.lit("name"), F.lit("signups"),
                F.lit("delta"), F.lit(1).cast("long"),
                F.lit("total"), F.lit(None).cast("long"),
            ),
        ).alias("counterEvent"),
        F.when(
            et == schemas.ERROR,
            F.named_struct(
                F.lit("source"), F.format_string("origin-%d", F.pmod(F.col("user_id"), F.lit(4))),
                F.lit("code"), (F.col("value")).cast("int"),
                F.lit("message"), F.col("props"),
            ),
        ).alias("error"),
        F.lit(None).cast(schemas.CONTAINER_METRIC_SCHEMA).alias("containerMetric"),
        F.lit(None).cast("binary").alias("_unrecognized"),
    )
