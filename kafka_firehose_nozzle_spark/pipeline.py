"""The routing pipeline: envelopes -> (topic, value) rows.

This is the reference's entire hot data path (kafka.go:305-340 and
encoder.go:15-18) restated as one pure DataFrame -> DataFrame function —
identical in batch tests and the streaming job (SURVEY.md §3.2):

    switch eventType -> topic     (P1 + P3, route_topic_expr)
    topic == ""      -> drop      (P2, filter)
    toJSON(event)                 (S2, sonde_json)

Operationally it is a single narrow projection + filter: no shuffle, fully
whole-stage-codegen'd, trivially scalable — throughput is bounded by source
read + Kafka write, which is exactly the property the reference engineered
for with easyjson + N workers (encoder_test.go:41-67, cli.go:341-349).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_firehose_nozzle_spark.config import Config, TopicConfig
from kafka_firehose_nozzle_spark.functions.routing import route_topic_expr
from kafka_firehose_nozzle_spark.functions.sonde_json import sonde_json
from kafka_firehose_nozzle_spark.stats import OBS_COUNTERS, counters


def route_envelopes(
    df: DataFrame, topics: TopicConfig, with_observe: bool = False
) -> DataFrame:
    """Envelope DataFrame -> routed DataFrame[(topic, value)].

    Rows with no destination (unknown event type, or type disabled in
    config) are dropped, matching kafka.go:333-338. With ``with_observe``,
    the reference's consume/ignore/forward counters (stats.go:19-37,
    ``stats.counters``) ride along as the one observation
    ``OBS_COUNTERS``, placed after routing and before the drop — computed
    inside the same stage, no extra pass — for the stats listener to read.
    """
    routed = df.withColumn("topic", route_topic_expr(df, topics))
    if with_observe:
        routed = routed.observe(OBS_COUNTERS, *counters(routed))
    return routed.filter(F.col("topic").isNotNull()).select(
        "topic", sonde_json(routed).alias("value")
    )


def route_envelopes_config(df: DataFrame, config: Config, **kw) -> DataFrame:
    return route_envelopes(df, config.kafka.topic, **kw)


def route_envelopes_dlq(
    df: DataFrame, topics: TopicConfig
) -> tuple[DataFrame, DataFrame]:
    """Routed stream + dead-letter stream, from ONE routing evaluation.

    The reference counts unroutable messages and drops them
    (kafka.go:333-338 + stats.go ignored counter); production pipelines
    usually quarantine them instead so schema drift is debuggable after
    the fact. Returns ``(routed, dead)``:

    - ``routed``: exactly route_envelopes' output [(topic, value)];
    - ``dead``: the dropped rows as [eventType, origin, reason, value],
      reason distinguishing 'unknown_event_type' (a type the dispatch
      table has never heard of — the schema-drift signal) from
      'topic_disabled' (known type, operator turned the topic off).

    Both sides are filters over the same single-projection routing
    stage; in streaming, write them from one foreachBatch so the split
    stays one source read per micro-batch
    (tests/test_streaming.py::test_stream_dead_letter_quarantine).
    """
    from kafka_firehose_nozzle_spark import schemas

    routed_all = df.withColumn("topic", route_topic_expr(df, topics))
    value = sonde_json(routed_all)
    good = routed_all.filter(F.col("topic").isNotNull()).select(
        "topic", value.alias("value")
    )
    # single source of truth for "known type" — a hand-enumerated list
    # would silently drift if a type is ever added to the schema map
    known = list(schemas.EVENT_TYPE_NAMES)
    dead = routed_all.filter(F.col("topic").isNull()).select(
        "eventType",
        "origin",
        F.when(F.col("eventType").isin(known), F.lit("topic_disabled"))
        .otherwise(F.lit("unknown_event_type"))
        .alias("reason"),
        value.alias("value"),
    )
    return good, dead
