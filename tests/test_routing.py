"""Routing tests (reference kafka_test.go:16-312): each event type lands on
its configured topic, static and %s-templated; disabled/unknown dropped."""

import re
import uuid

import pytest
from pyspark.sql import functions as F

from kafka_firehose_nozzle_spark import schemas
from kafka_firehose_nozzle_spark.config import TopicConfig
from kafka_firehose_nozzle_spark.fixtures import (
    TEST_APP_ID,
    canonical_envelope_df,
    canonical_envelopes,
    synthetic_envelope_df,
)
from kafka_firehose_nozzle_spark.functions.routing import (
    route_topic_expr,
    route_topic_from_wire,
)
from kafka_firehose_nozzle_spark.functions.sonde_json import (
    _decode_read_schema,
    sonde_json,
)
from kafka_firehose_nozzle_spark.pipeline import route_envelopes
from perfbench.frames import TOPICS as BENCH_TOPICS

FULL = TopicConfig(
    log_message="log",
    value_metric="metric",
    container_metric="containermetric",
    http_start_stop="httpstartstop",
    counter_event="counterevent",
    error="error",
)


def _routed(spark, topics):
    df = canonical_envelope_df(spark)
    out = route_envelopes(df, topics)
    rows = out.select("topic", "value").collect()
    return rows


def test_static_routing(spark):
    rows = _routed(spark, FULL)
    got = sorted(r.topic for r in rows)
    # 8 canonical rows: unk1 dropped (unknown type); slow1 is a counterEvent
    assert got == sorted(
        ["log", "metric", "containermetric", "httpstartstop",
         "counterevent", "counterevent", "error"]
    )


@pytest.mark.parametrize(
    "topics,origin,want",
    [
        (TopicConfig(log_message_fmt="log-%s"), "fake-origin-1", f"log-{TEST_APP_ID}"),
        (
            TopicConfig(container_metric_fmt="container-metric-%s"),
            "fake-origin-3",
            f"container-metric-{TEST_APP_ID}",
        ),
        (
            TopicConfig(http_start_stop_fmt="http-%s"),
            "fake-origin-6",
            f"http-{TEST_APP_ID}",
        ),
    ],
)
def test_templated_routing(spark, topics, origin, want):
    df = canonical_envelope_df(spark).filter(F.col("origin") == origin)
    rows = route_envelopes(df, topics).collect()
    assert len(rows) == 1 and rows[0].topic == want


def test_disabled_type_dropped(spark):
    # log_message unset -> log1 dropped (kafka_test.go:230-312)
    topics = TopicConfig(value_metric="metric")
    df = canonical_envelope_df(spark).filter(F.col("origin") == "fake-origin-1")
    assert route_envelopes(df, topics).count() == 0


def test_unknown_type_dropped(spark):
    df = canonical_envelope_df(spark).filter(F.col("origin") == "fake-origin-9")
    assert route_envelopes(df, FULL).count() == 0


def test_routed_value_is_golden_json(spark):
    df = canonical_envelope_df(spark).filter(F.col("origin") == "fake-origin-2")
    rows = route_envelopes(df, FULL).collect()
    assert rows[0].value.startswith('{"origin":"fake-origin-2","eventType":6,')


def test_route_topic_from_wire_matches_envelope_path(spark):
    """route_topic_from_wire (single-projection, parse-pruned dispatch
    over the parsed wire struct — the roundtrip fast path) must
    route every envelope to EXACTLY the topic the envelope-column path
    produces, across the canonical corpus (all 6 types + unknown) and a
    synthetic mix, for both a fully-templated and a partially-disabled
    config."""
    from kafka_firehose_nozzle_spark.functions.sonde_json import (
        envelopes_from_json,
    )

    templated = TopicConfig(
        log_message_fmt="log-%s",
        value_metric="metric",
        container_metric_fmt="cm-%s",
        http_start_stop_fmt="http-%s",
        counter_event="counterevent",
        error="",  # disabled -> NULL
    )
    for df in (canonical_envelope_df(spark), synthetic_envelope_df(spark, 200)):
        encoded = df.select(sonde_json(df).alias("value")).localCheckpoint()
        for topics in (FULL, templated):
            dec = envelopes_from_json(encoded, "value")
            want = [
                r[0]
                for r in dec.select(
                    route_topic_expr(dec, topics).alias("t")
                ).collect()
            ]
            got = [
                r[0]
                for r in encoded.select(
                    route_topic_from_wire(
                        F.from_json(F.col("value"), _decode_read_schema()),
                        topics,
                    ).alias("t")
                ).collect()
            ]
            assert sorted(want, key=str) == sorted(got, key=str)


ALL_TEMPLATES = TopicConfig(
    log_message_fmt="log-%s",
    value_metric="metric",
    container_metric_fmt="cm-%s",
    http_start_stop_fmt="http-%s",
    counter_event="counterevent",
    error="error",
)
ZERO_UUID = "00000000-0000-0000-0000-000000000000"


def _crossed_envelopes() -> list[dict]:
    """The canonical rows, plus a LogMessage, a ContainerMetric and an
    HttpStartStop that each also carry the other two types' messages with
    other app ids, plus an HttpStartStop whose applicationId is nil."""
    rows = canonical_envelopes()
    by_type = {r["eventType"]: r for r in rows}
    log, cm, hss = (
        by_type[t]
        for t in (schemas.LOG_MESSAGE, schemas.CONTAINER_METRIC, schemas.HTTP_START_STOP)
    )
    others = {
        "logMessage": {**log["logMessage"], "app_id": "other-log-app"},
        "containerMetric": {**cm["containerMetric"], "applicationId": "other-cm-app"},
        "httpStartStop": {
            **hss["httpStartStop"], "applicationId": {"low": 1, "high": 2}
        },
    }
    crossed = [
        {**r, **{k: v for k, v in others.items() if r[k] is None}}
        for r in (log, cm, hss)
    ]
    nil_app = {
        **hss,
        "origin": "nil-app",
        "httpStartStop": {**hss["httpStartStop"], "applicationId": None},
    }
    return rows + crossed + [nil_app]


def _own_app_topic(row) -> str | None:
    """What ALL_TEMPLATES routes ``row`` to, from its own type's app id
    only (kafka.go:305-340; uuid2str, kafka.go:214-219)."""
    et = row.eventType
    if et == schemas.LOG_MESSAGE:
        return f"log-{row.logMessage.app_id or ''}"
    if et == schemas.CONTAINER_METRIC:
        return f"cm-{row.containerMetric.applicationId or ''}"
    if et == schemas.HTTP_START_STOP:
        app = row.httpStartStop.applicationId if row.httpStartStop else None
        low, high = (app.low or 0, app.high or 0) if app else (0, 0)
        buf = low.to_bytes(8, "little", signed=True) + high.to_bytes(
            8, "little", signed=True
        )
        return f"http-{uuid.UUID(bytes=buf)}"
    return {
        schemas.VALUE_METRIC: "metric",
        schemas.COUNTER_EVENT: "counterevent",
        schemas.ERROR: "error",
    }.get(et)


@pytest.mark.parametrize("corpus", ["canonical", "synthetic", "crossed"])
def test_all_templates_each_type_formats_its_own_app_id(spark, corpus):
    """With all three templates set at once, both dispatches give each
    templated type its own app id, and a nil HttpStartStop applicationId
    renders the zero UUID, as Go's nil-safe getters do."""
    df = {
        "canonical": lambda: canonical_envelope_df(spark),
        "synthetic": lambda: synthetic_envelope_df(spark, 300),
        "crossed": lambda: spark.createDataFrame(
            _crossed_envelopes(), schemas.ENVELOPE_SCHEMA
        ),
    }[corpus]()
    # encode once: from_json over the sonde_json expression itself would
    # copy the whole encoder into every field the wire dispatch reads
    df = df.withColumn("value", sonde_json(df)).localCheckpoint()
    wire = F.from_json(F.col("value"), _decode_read_schema())
    rows = df.select(
        "origin",
        "eventType",
        "logMessage",
        "containerMetric",
        "httpStartStop",
        route_topic_expr(df, ALL_TEMPLATES).alias("envelope_topic"),
        route_topic_from_wire(wire, ALL_TEMPLATES).alias("wire_topic"),
    ).collect()
    assert rows
    for r in rows:
        want = _own_app_topic(r)
        assert (r.envelope_topic, r.wire_topic) == (want, want), r
    if corpus == "crossed":
        nil_app = [r for r in rows if r.origin == "nil-app"]
        assert [r.envelope_topic for r in nil_app] == [f"http-{ZERO_UUID}"]


# HotSpot compiles no method whose bytecode is larger than this
# (-XX:+DontCompileHugeMethods, on by default): a larger generated
# whole-stage method runs interpreted on every row
HUGE_METHOD_LIMIT = 8000


def _max_method_code_sizes(spark, df) -> list[int]:
    """``maxMethodCodeSize`` of every whole-stage codegen subtree of
    ``df``'s executed plan."""
    debug = spark._jvm.org.apache.spark.sql.execution.debug.package
    text = debug.codegenString(df._jdf.queryExecution().executedPlan())
    return [int(n) for n in re.findall(r"maxMethodCodeSize:(\d+)", text)]


@pytest.mark.parametrize(
    "topics", [BENCH_TOPICS, ALL_TEMPLATES], ids=["bench-topics", "all-templates"]
)
def test_routed_plan_methods_fit_the_jit_limit(spark, topics):
    """Every generated method of the observed routing plan stays small
    enough for HotSpot to compile it."""
    routed = route_envelopes(canonical_envelope_df(spark), topics, with_observe=True)
    sizes = _max_method_code_sizes(spark, routed)
    assert sizes and max(sizes) <= HUGE_METHOD_LIMIT, sizes
