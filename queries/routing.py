"""Nozzle parity queries: the reference's topic routing, its stats counters,
the salted two-stage route and the sonde-JSON encode/decode round trip
(``pipeline``, ``functions.routing``, ``functions.sonde_json``,
``operators.skew``), all over the envelopes ``events_to_envelopes``
derives from the events table."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_firehose_nozzle_spark.functions.routing import route_topic_expr
from kafka_firehose_nozzle_spark.pipeline import route_envelopes
from kafka_firehose_nozzle_spark.sources.events_adapter import events_to_envelopes

from ._base import ROUTE_TOPICS, _pure_plan, _t, memo, query

# oracle fragment: the event_type -> topic routing CASE (events_adapter map)
_TOPIC_CASE = """CASE event_type
    WHEN 'view' THEN 'topic-http'
    WHEN 'click' THEN 'log-app-' || CAST(user_id AS VARCHAR)
    WHEN 'purchase' THEN 'topic-metrics'
    WHEN 'error' THEN 'topic-errors'
    ELSE NULL END"""


def _envelopes(
    spark: SparkSession, sf_dir: str, fan: bool = True
) -> DataFrame:
    def build() -> DataFrame:
        # ``fan=True``: the envelope CODEC paths (sonde JSON encode in
        # roundtrip/salted) do heavy per-row work BEFORE their first
        # shuffle, so the fan-out lives here rather than in _t():
        # every other events consumer hash-exchanges immediately and a
        # table-level round-robin exchange only duplicated that work
        # (r11 A/B: events_per_minute 0.73 -> 0.23 s etc. with events
        # single-split, route/stats unchanged with this fan-out kept).
        # ``fan=False``: consumers whose per-row work is a topic CASE +
        # one counting aggregate (route_topics, stats_counters) measured
        # FASTER without the exchange at sf0.1 (topic-only agg 0.61 s
        # single-split vs 1.55 s fanned) — the lazy CASE never evaluates
        # the expensive uuid-hex branch on this corpus mix, so the
        # projection is scan-class, not codec-class.
        ev = _t(spark, sf_dir, "events")
        if fan:
            ev = ev.repartition(spark.sparkContext.defaultParallelism)
        return events_to_envelopes(ev)

    return memo(spark, ("_envelopes", sf_dir, fan), build)


def _routed_envelopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return memo(
        spark,
        ("_routed_envelopes", sf_dir),
        lambda: route_envelopes(_envelopes(spark, sf_dir), ROUTE_TOPICS),
    )


ORACLE_ROUTE_TOPICS = f"""
    WITH routed AS (SELECT {_TOPIC_CASE} AS topic FROM events)
    SELECT topic, COUNT(*) AS n FROM routed
    WHERE topic IS NOT NULL GROUP BY topic
"""


@query(ORACLE_ROUTE_TOPICS)
@_pure_plan
def q_route_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1+P2+P3: the routing dispatch over the events stream, aggregated
    per destination topic.

    r11 (guide §7.3, "very large plans: planning time itself can become
    the bottleneck"): built topic-only rather than over the full
    ``route_envelopes`` (topic, value) frame. Catalyst prunes the unused
    sonde-JSON ``value`` column from the EXECUTED plan either way — the
    physical plans are identical — but ``.count()`` re-optimizes the
    logical tree on every action, and carrying the ~300-node encode tree
    just to prune it measured +0.33 s per bench pass. The full encode
    path stays benched by roundtrip_route_topics, route_topics_salted
    and the routing-throughput side metric. Same filter semantics
    (``topic IS NOT NULL`` = route_envelopes' drop rule); oracle
    unchanged."""
    env = _envelopes(spark, sf_dir, fan=False)
    topic = route_topic_expr(env, ROUTE_TOPICS)
    return (
        env.withColumn("topic", topic)
        .filter(F.col("topic").isNotNull())
        .groupBy("topic")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(ORACLE_ROUTE_TOPICS)
def q_route_topics_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The route_topics aggregation through the salted two-stage path
    (operators/skew.py): identical results, skew-proof shuffle layout —
    each hot topic fans out over 32 salts before the final per-topic sum.
    """
    from kafka_firehose_nozzle_spark.operators.skew import salted_counts

    routed = _routed_envelopes(spark, sf_dir)
    return salted_counts(routed, "topic", salt_from=["value"], n_salts=32)


ORACLE_STATS_COUNTERS = f"""
    WITH routed AS (SELECT event_type, {_TOPIC_CASE} AS topic FROM events)
    SELECT COUNT(*) AS consume,
        COUNT(*) FILTER (WHERE event_type = 'view') AS consume_http_start_stop,
        COUNT(*) FILTER (WHERE event_type = 'click') AS consume_log_message,
        COUNT(*) FILTER (WHERE event_type = 'purchase') AS consume_value_metric,
        COUNT(*) FILTER (WHERE event_type = 'signup') AS consume_counter_event,
        COUNT(*) FILTER (WHERE event_type = 'error') AS consume_error,
        COUNT(*) FILTER (WHERE event_type NOT IN
            ('view','click','purchase','signup','error')) AS consume_unknown,
        COUNT(*) FILTER (WHERE topic IS NULL) AS ignored,
        COUNT(*) FILTER (WHERE topic IS NOT NULL) AS forwarded
    FROM routed
"""


@query(ORACLE_STATS_COUNTERS)
@_pure_plan
def q_stats_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: the reference's consume/ignore/forward counters as one
    aggregation over the envelope stream (stats.go:19-37)."""
    from kafka_firehose_nozzle_spark import schemas

    # fan=False: one CASE projection + one 1-row aggregate — scan-class
    # work, the fan-out exchange measured as pure loss (see _envelopes)
    env = _envelopes(spark, sf_dir, fan=False)
    env = env.withColumn("topic", route_topic_expr(env, ROUTE_TOPICS))
    et = F.col("eventType")
    return env.agg(
        F.count(F.lit(1)).alias("consume"),
        F.count_if(et == schemas.HTTP_START_STOP).alias("consume_http_start_stop"),
        F.count_if(et == schemas.LOG_MESSAGE).alias("consume_log_message"),
        F.count_if(et == schemas.VALUE_METRIC).alias("consume_value_metric"),
        F.count_if(et == schemas.COUNTER_EVENT).alias("consume_counter_event"),
        F.count_if(et == schemas.ERROR).alias("consume_error"),
        F.count_if(~et.isin(list(schemas.EVENT_TYPE_NAMES))).alias("consume_unknown"),
        F.count_if(F.col("topic").isNull()).alias("ignored"),
        F.count_if(F.col("topic").isNotNull()).alias("forwarded"),
    )


@query(ORACLE_ROUTE_TOPICS)
def q_roundtrip_route_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 encoder + its inverse as a source: events -> envelopes -> sonde
    JSON -> parse back -> route. Proves sonde-JSON files/topics are a
    lossless replayable envelope source; per-topic counts must equal
    route_topics exactly.

    The ``localCheckpoint`` models the materialization boundary that exists
    in reality between the two halves (the Kafka topic / JSON file): the
    decoder's ~40 field references each inline the paired
    from_json(to_json(<full envelope struct>)) if encode and decode share
    one lineage, and Catalyst's per-field-access json-schema pruning
    (OptimizeJsonExprs) then optimizes each copy separately — 200+ s of
    pure plan-optimization time at ANY data size. The barrier keeps both
    halves' plans small; encode runs once.

    Storage level is GATED on the estimated corpus size
    (session.checkpoint_storage_level): the checkpoint holds the FULL
    encoded corpus (~30 GB of JSON strings at sf100 — ~20x the events
    parquet), and deserialized on-heap block building across all
    executor threads starves execution memory ("Unable to acquire ...
    got 0", reproduced solo at sf100), so past ~25% of heap it goes
    DISK_ONLY — the same lesson as pagerank's edge list; a real
    deployment would land the topic/file on storage, which is exactly
    what serialized disk blocks model. Below the cliff the
    MEMORY_AND_DISK default skips the serialize/decode pass that the r9
    unconditional DISK_ONLY paid everywhere (~4% of the sf0.1 bench for
    zero benefit — the r10 drift adjudication, SCALE.md)."""
    from kafka_firehose_nozzle_spark.functions.sonde_json import sonde_json
    from kafka_firehose_nozzle_spark.session import (
        checkpoint_storage_level,
        input_bytes,
    )

    env = _envelopes(spark, sf_dir)
    level = checkpoint_storage_level(
        spark,
        input_bytes(spark, f"{sf_dir}/events.parquet"),
        expansion=20.0,  # snappy parquet -> raw sonde-JSON strings
    )
    # The PURE encode plan (select of the ~300-node sonde_json tree) is
    # memoized — 0.32 s of py4j construction per bench pass (r11 wave 2);
    # the localCheckpoint wrapper below stays per-call, so every pass
    # still encodes the corpus from parquet and materializes its own
    # checkpoint (nothing computed is ever reused across calls).
    encoded_plan = memo(
        spark,
        ("_rt_encoded", sf_dir),
        lambda: env.select(sonde_json(env).alias("value")),
    )
    encoded = encoded_plan.localCheckpoint(eager=False, storageLevel=level)
    # r11: the count-only tail routes DIRECTLY from the parsed wire
    # struct (route_topic_from_wire) instead of materializing all 14
    # envelope columns first — same dispatch, same decode transforms on
    # the fields routing touches, but OptimizeJsonExprs can then prune
    # the parse to those leaves (1.36 s vs 2.00 s for this half at
    # sf0.1, results identical; equivalence pinned in test_routing.py).
    # Forwarding pipelines keep envelopes_from_json_with_value.
    from kafka_firehose_nozzle_spark.functions.routing import (
        route_topic_from_wire,
    )
    from kafka_firehose_nozzle_spark.functions.sonde_json import (
        _decode_read_schema,
    )

    # The decode-tail COLUMNS are unresolved expressions over field
    # names ("value", "_raw"), so they are reusable against any parent —
    # memoizing them saves ~0.2 s of py4j construction per pass (the
    # route dispatch + uuid-hex branch is dozens of JVM round trips).
    # They attach to THIS pass's fresh checkpoint below.
    parse_col, topic_col = memo(
        spark,
        ("_rt_decode_cols",),
        lambda: (
            F.from_json(F.col("value"), _decode_read_schema()).alias("_raw"),
            route_topic_from_wire(F.col("_raw"), ROUTE_TOPICS).alias("topic"),
        ),
    )
    return (
        encoded.select(parse_col)
        .select(topic_col)
        .filter(F.col("topic").isNotNull())
        .groupBy("topic")
        .agg(F.count(F.lit(1)).alias("n"))
    )
