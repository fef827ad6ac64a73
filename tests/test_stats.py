"""Stats tests: golden JSON (stats_test.go:37-93), concurrency
(stats_test.go:11-35), and observe()-based counter accumulation (A1)."""

import dataclasses
import json
import threading

from kafka_firehose_nozzle_spark.config import TopicConfig
from kafka_firehose_nozzle_spark.fixtures import canonical_envelope_df
from kafka_firehose_nozzle_spark.functions.routing import route_topic_expr
from kafka_firehose_nozzle_spark.pipeline import route_envelopes
from kafka_firehose_nozzle_spark.stats import Stats, counters

FULL = TopicConfig(
    log_message="log",
    value_metric="metric",
    container_metric="containermetric",
    http_start_stop="httpstartstop",
    counter_event="counterevent",
    error="error",
)


def test_stats_json_golden():
    """stats_test.go:37-93: consume+100, publish_fail+50, publish+50,
    subinput +100/-50, forwarded+100 -> delay 0, all 19 keys in order."""
    s = Stats()
    s.inc("consume", 100)
    s.inc("publish_fail", 50)
    s.inc("publish", 50)
    s.inc("subinupt_buffer", 100)
    s.dec("subinupt_buffer", 50)
    s.inc("forwarded", 100)
    got = json.loads(s.to_json())
    assert got["consume"] == 100
    assert got["publish_fail"] == 50
    assert got["publish"] == 50
    assert got["subinupt_buffer"] == 50
    assert got["forwarded"] == 100
    assert got["delay"] == 0
    assert got["instance_id"] == 0
    assert list(got) == [
        "consume", "consume_per_sec", "consume_fail",
        "consume_http_start_stop", "consume_value_metric",
        "consume_counter_event", "consume_log_message", "consume_error",
        "consume_container_metric", "consume_unknown", "ignored",
        "forwarded", "publish", "publish_per_sec", "publish_fail",
        "slow_consumer_alert", "subinupt_buffer", "delay", "instance_id",
    ]


def test_stats_concurrent_inc():
    """stats_test.go:11-35: 20 threads x 5 increments."""
    s = Stats()
    threads = [
        threading.Thread(target=lambda: [s.inc("consume") for _ in range(5)])
        for _ in range(20)
    ]
    [t.start() for t in threads]
    [t.join() for t in threads]
    assert s.get("consume") == 100


def test_observe_counters_batch(spark):
    """The counters aggregated over routed rows replicate the
    consume/route counters; the observed route keeps its 7 rows."""
    df = canonical_envelope_df(spark)
    routed = df.withColumn("topic", route_topic_expr(df, FULL))
    stats = Stats()
    stats.merge_observation(routed.agg(*counters(routed)).first().asDict())
    collected = route_envelopes(df, FULL, with_observe=True).collect()
    snap = stats.snapshot()
    assert snap["consume"] == 8
    assert snap["consume_log_message"] == 1
    assert snap["consume_counter_event"] == 2
    assert snap["consume_unknown"] == 1
    assert snap["ignored"] == 1  # unk1
    assert snap["forwarded"] == 7
    assert snap["slow_consumer_alert"] == 1  # slow1
    assert snap["delay"] == 7  # nothing published yet
    assert len(collected) == 7


def test_route_envelopes_observes_once_without_common_exprs(spark):
    """One CollectMetrics node per routed stream, and no count_if
    rewrite aliases (_common_expr_N) above the topic CASE: constraint
    propagation doubles its work per alias, which multiplied each live
    batch's planning time."""
    templated = dataclasses.replace(FULL, log_message="", log_message_fmt="log-%s")
    df = canonical_envelope_df(spark)
    out = route_envelopes(df, templated, with_observe=True)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("CollectMetrics") == 1
    assert "_common_expr" not in plan


def test_live_plan_observes_once_and_never_sees_quarantine_columns(
    spark, tmp_path
):
    """The started live query (fixture source, memory sink) has one
    CollectMetrics, the routed counters: the reader drops and counts
    bad frames itself, so the plan has no decode observation and no
    ``_decode_error`` column."""
    from kafka_firehose_nozzle_spark.config import Config, KafkaConfig
    from kafka_firehose_nozzle_spark.streaming.job import (
        firehose_stream,
        start_pipeline,
    )

    cfg = Config(kafka=KafkaConfig(topic=FULL))
    handle = start_pipeline(
        spark,
        firehose_stream(spark, cfg, fixtureRows=8),
        cfg,
        str(tmp_path / "ckpt"),
        sink="memory",
        memory_sink_name="live_plan_sink",
    )
    try:
        handle.wait_for_stats(8)  # the fixture source never runs dry
        execution = handle.query._jsq.streamingQuery().lastExecution()
        plan = execution.optimizedPlan().toString()
    finally:
        handle.stop()
    assert plan.count("CollectMetrics") == 1
    assert "_decode_error" not in plan


def test_listener_adds_source_offset_tally_growth():
    """The listener adds what each source-offset key named as a counter
    grew by in the batch: a null start and a missing key count as 0, a
    restart's start already carries the tally, ``n`` and a file source's
    ``logOffset`` name no counter. Offsets come as JSON or as the Python
    repr PySpark makes of a parsed event."""
    from types import SimpleNamespace

    from kafka_firehose_nozzle_spark.stats import make_streaming_listener

    stats = Stats()
    listener = make_streaming_listener(stats)

    def progress(start, end):
        source = SimpleNamespace(startOffset=start, endOffset=end)
        return SimpleNamespace(
            progress=SimpleNamespace(
                id="q", observedMetrics={}, sink=None, sources=[source]
            )
        )

    def tallies():
        snap = stats.snapshot()
        return snap["consume_fail"], snap["slow_consumer_alert"], snap["consume"]

    listener.onQueryProgress(progress(None, '{"n": 5, "consume_fail": 2}'))
    assert tallies() == (2, 0, 0)
    listener.onQueryProgress(
        progress('{"n": 5}', "{'n': 9, 'consume_fail': 3, 'slow_consumer_alert': 1}")
    )
    assert tallies() == (5, 1, 0)
    # a restarted query's first batch starts from the committed offset
    listener.onQueryProgress(
        progress(
            "{'n': 9, 'consume_fail': 3, 'slow_consumer_alert': 1}",
            "{'n': 12, 'consume_fail': 4, 'slow_consumer_alert': 1}",
        )
    )
    assert tallies() == (6, 1, 0)
    listener.onQueryProgress(progress('{"logOffset": 3}', '{"logOffset": 4}'))
    listener.onQueryProgress(progress("None", '{"logOffset": 0}'))
    assert tallies() == (6, 1, 0)
