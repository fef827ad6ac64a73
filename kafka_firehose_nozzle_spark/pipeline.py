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
The generated code is only fast once HotSpot compiles it, which it does
not for a method over 8000 bytes of bytecode: routing keeps the topic
projection's method under that (functions/routing.py), and
tests/test_routing.py::test_routed_plan_methods_fit_the_jit_limit holds
every method of this plan to it.
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

