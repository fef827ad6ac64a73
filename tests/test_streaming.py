"""Streaming end-to-end tests: file-replay source -> routing pipeline ->
memory sink, with listener-accumulated stats (SURVEY.md §5 port, item e)."""

import time

import pytest
from pyspark.sql import functions as F

from kafka_firehose_nozzle_spark.config import Config, KafkaConfig, TopicConfig
from kafka_firehose_nozzle_spark.fixtures import synthetic_envelope_df
from kafka_firehose_nozzle_spark.streaming.job import (
    file_replay_stream,
    start_pipeline,
)


def _config() -> Config:
    c = Config()
    c.kafka = KafkaConfig(
        brokers=["localhost:9092"],
        topic=TopicConfig(
            log_message="log",
            log_message_fmt="log-%s",
            value_metric="metric",
            container_metric="containermetric",
            http_start_stop="httpstartstop",
            counter_event="counterevent",
            error="error",
        ),
    )
    return c


def test_stream_routing_end_to_end(spark, tmp_path):
    src = str(tmp_path / "envelopes")
    n = 2000
    synthetic_envelope_df(spark, n).write.mode("overwrite").parquet(src)

    envelopes = file_replay_stream(spark, src)
    handle = start_pipeline(
        spark,
        envelopes,
        _config(),
        checkpoint=str(tmp_path / "ckpt"),
        sink="memory",
        memory_sink_name="stream_test_out",
    )
    try:
        handle.query.processAllAvailable()
        handle.wait_for_stats(n)
    finally:
        handle.stop()
    stats = handle.stats

    out = spark.sql("SELECT * FROM stream_test_out")
    total = out.count()
    assert total == n  # all synthetic types are routable with full config

    # templated log topics appear
    log_topics = out.filter(F.col("topic").startswith("log-")).count()
    assert log_topics > 0

    # values are sonde JSON
    row = out.limit(1).collect()[0]
    assert row.value.startswith('{"origin":')

    snap = stats.snapshot()
    assert snap["consume"] == n
    assert snap["forwarded"] == n
    assert snap["ignored"] == 0
    assert snap["publish"] == n  # memory sink reports numOutputRows
    assert snap["delay"] == 0
    assert (
        snap["consume_log_message"]
        + snap["consume_http_start_stop"]
        + snap["consume_value_metric"]
        + snap["consume_counter_event"]
        + snap["consume_container_metric"]
        + snap["consume_error"]
    ) == n


def test_firehose_source_through_full_pipeline(spark, tmp_path):
    """SRC1 -> P1-P4/S2 -> A1 -> sink in one flow: the firehose fixture
    source (through the wire decode path) feeds the real routing pipeline
    into a memory sink. The canonical fixture set contains an
    unknown-type envelope and the doppler TruncatingBuffer counter, so
    this also pins ConsumeUnknown and SlowConsumerAlert end-to-end
    through the actual source — not a synthetic DataFrame."""
    from kafka_firehose_nozzle_spark.streaming.job import firehose_stream

    envelopes = firehose_stream(spark, _config(), fixtureRows=16)
    handle = start_pipeline(
        spark,
        envelopes,
        _config(),
        checkpoint=str(tmp_path / "ckpt"),
        sink="memory",
        memory_sink_name="fh_pipe_out",
    )
    try:
        # the fixture source is unbounded — wait for a couple of batches
        # of consume counts instead of processAllAvailable()
        handle.wait_for_stats(32, timeout=120)
    finally:
        handle.stop()
    stats = handle.stats
    assert stats.get("consume") >= 32
    # 16 envelopes/batch cycle through the 8 canonicals: 2x unknown-type
    # and 2x doppler TruncatingBuffer per batch
    assert stats.get("consume_unknown") >= 2
    assert stats.get("slow_consumer_alert") >= 2
    assert stats.get("forwarded") > 0
    # unknown-type envelopes are unroutable -> dropped and counted
    assert stats.get("ignored") >= stats.get("consume_unknown")

    out = spark.sql("SELECT topic, value FROM fh_pipe_out")
    assert out.count() > 0
    # wire-decoded LogMessages route through the %s template with the
    # canonical app id
    assert (
        out.filter(
            F.col("topic") == "log-3356a5c7-e86c-442a-b14f-ce5cc4f80ed1"
        ).count()
        > 0
    )


def test_stream_drops_counted(spark, tmp_path):
    """Only value_metric enabled -> everything else ignored (P2 + A1)."""
    src = str(tmp_path / "envelopes2")
    synthetic_envelope_df(spark, 500).write.mode("overwrite").parquet(src)

    config = _config()
    config.kafka.topic = TopicConfig(value_metric="metric")

    handle = start_pipeline(
        spark,
        file_replay_stream(spark, src),
        config,
        checkpoint=str(tmp_path / "ckpt2"),
        sink="memory",
        memory_sink_name="stream_test_drops",
    )
    try:
        handle.query.processAllAvailable()
        handle.wait_for_stats(500)
    finally:
        handle.stop()
    stats = handle.stats

    snap = stats.snapshot()
    assert snap["consume"] == 500
    assert snap["forwarded"] == spark.sql(
        "SELECT count(*) c FROM stream_test_drops"
    ).collect()[0].c
    assert snap["ignored"] == 500 - snap["forwarded"]
    assert snap["ignored"] > 0


def test_chaos_midbatch_crash_exactly_once(spark, tmp_path):
    """Whole-pipeline crash chaos (VERDICT r6 item 5, the ST1/K5 claim
    tested as ONE flow, not per-operator): firehose wire-replay source
    -> routing -> idempotent foreachBatch parquet sink.  The sink is
    killed AFTER a partial foreachBatch commit of batch 1 (half the
    batch's rows land in the lake, then the injected fault fires before
    checkpoint commit); the query is restarted on the same checkpoint
    and run a few more batches.  Exactly-once-observable contract: the
    final lake equals the sequential model of the source's deterministic
    offset stream — the replayed batch's partial half is REWRITTEN by
    the dynamic partition overwrite, nothing is lost (source replays the
    planned range from the checkpoint WAL) and nothing is duplicated
    (the sink partition is versioned by batch id)."""
    import os
    import time

    from kafka_firehose_nozzle_spark.fixtures import canonical_envelopes
    from kafka_firehose_nozzle_spark.pipeline import route_envelopes_config
    from kafka_firehose_nozzle_spark.schemas import ENVELOPE_SCHEMA
    from kafka_firehose_nozzle_spark.streaming.job import firehose_stream

    lake = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")
    crash_marker = str(tmp_path / "crashed")
    per_batch = 16

    def write_batch(batch_df, batch_id):
        full = batch_df.withColumn(
            "_batch_id", F.lit(batch_id).cast("long")
        )
        writer = (
            full.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
        )
        if batch_id == 1 and not os.path.exists(crash_marker):
            # partial commit: half the rows land, then the process dies
            # before the checkpoint commit
            half = full.limit(full.count() // 2)
            (
                half.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch_id")
                .parquet(lake)
            )
            with open(crash_marker, "w") as f:
                f.write("crashed after partial write of batch 1")
            raise RuntimeError("injected mid-batch crash")
        writer.parquet(lake)

    def start():
        env = firehose_stream(spark, _config(), fixtureRows=per_batch)
        routed = route_envelopes_config(env, _config())
        return (
            routed.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )

    # phase 1: run until the injected fault kills the query
    q1 = start()
    deadline = time.time() + 120
    while q1.exception() is None and time.time() < deadline:
        time.sleep(0.2)
    exc = q1.exception()
    try:
        assert exc is not None and "injected mid-batch crash" in str(exc)
    finally:
        q1.stop()
    assert os.path.exists(crash_marker), "fault never fired"
    # the partial half of batch 1 is in the lake right now — the state
    # this test exists to prove gets repaired
    partial = spark.read.parquet(lake).filter(F.col("_batch_id") == 1)
    assert 0 < partial.count() < per_batch

    # phase 2: restart on the same checkpoint, run a few more batches
    q2 = start()
    committed = -1
    deadline = time.time() + 120
    while time.time() < deadline:
        p = q2.lastProgress
        if p is not None:
            committed = p["batchId"]
            if committed >= 4:
                break
        time.sleep(0.2)
    q2.stop()
    assert committed >= 2, "restarted stream never progressed past crash"

    # sequential model: the fixture source is deterministic per global
    # offset j (canonical[j % 8] with timestamp += j; the wire encode /
    # decode round trip is exact), and batch b covers offsets
    # [16b, 16(b+1))
    canon = canonical_envelopes()
    rows = []
    for j in range(per_batch * (committed + 1)):
        r = dict(canon[j % len(canon)])
        r["timestamp"] = (r["timestamp"] or 0) + j
        rows.append(r)
    model = route_envelopes_config(
        spark.createDataFrame(rows, ENVELOPE_SCHEMA), _config()
    )
    want = sorted((r["topic"], r["value"]) for r in model.collect())
    got = sorted(
        (r["topic"], r["value"])
        for r in spark.read.parquet(lake)
        .filter(F.col("_batch_id") <= committed)
        .collect()
    )
    assert len(got) == len(want)
    assert got == want  # no lost rows, no duplicated rows, batch 1 whole


@pytest.mark.slow
def test_soak_100_microbatches_flat_latency_counters_match_model(
    spark, tmp_path
):
    """Steady-state soak of the assembled pipeline (VERDICT r7 item 4):
    file-replay source -> routing -> memory sink, 100 micro-batches at a
    fixed 80 rows each (64 unique + 16 exact duplicates). Chaos tests
    prove crash semantics; this proves sustained health — the reference
    is a continuous pipeline (cli.go:336-349):

    (a) per-batch latency is FLAT: the median over the last third of
        batches is no worse than 2x the median over the first third
        (plus a 1 s absolute floor for scheduler jitter on a shared CI
        host) — a state or listener leak shows up as a monotone trend
        that blows through that bar over 100 batches;
    (b) stats counters match the sequential model: the same routing run
        in batch mode over the same files yields the same consume /
        forwarded / ignored / publish totals, and the memory sink holds
        exactly the forwarded rows. Nothing dedups, so every duplicate
        is consumed (the reference forwards each event it receives).
    """
    import glob as _glob
    import os as _os

    from kafka_firehose_nozzle_spark import schemas
    from kafka_firehose_nozzle_spark.fixtures import TEST_TS
    from kafka_firehose_nozzle_spark.pipeline import route_envelopes_config

    n_batches, uniq_per_batch, dup_per_batch = 100, 64, 16
    rows_per_batch = uniq_per_batch + dup_per_batch
    n_unique = n_batches * uniq_per_batch

    # --- fixture: one parquet file per micro-batch, mtime-ordered ---
    base = synthetic_envelope_df(spark, n_unique)
    # synthetic timestamps are TEST_TS + id*1000 (fixtures.py); recover
    # the row id to assign each row its micro-batch
    rid = ((F.col("timestamp") - F.lit(TEST_TS)) / 1000).cast("long")
    base = base.withColumn("_id", rid).withColumn(
        "_batch", (F.col("_id") / uniq_per_batch).cast("long")
    )
    dups = base.filter(F.col("_id") % 4 == 0)  # exact copies, same batch
    ordered = (
        base.withColumn("_dup", F.lit(0))
        .unionByName(dups.withColumn("_dup", F.lit(1)))
        .orderBy("_batch", "_id", "_dup")
    )
    staged = str(tmp_path / "soak_staged")
    # partitionBy writes one dir per batch (and drops _batch from the
    # data files, leaving exactly ENVELOPE_SCHEMA); coalesce(1) makes a
    # single part file per dir
    ordered.drop("_id", "_dup").coalesce(1).write.partitionBy(
        "_batch"
    ).parquet(staged)
    src = tmp_path / "soak_src"
    src.mkdir()
    t0 = 1_700_000_000
    for i in range(n_batches):
        parts = _glob.glob(f"{staged}/_batch={i}/part-*.parquet")
        assert len(parts) == 1, parts
        p = str(src / f"b{i:04d}.parquet")
        _os.rename(parts[0], p)
        _os.utime(p, (t0 + i, t0 + i))  # FileStreamSource orders by mtime

    # --- progress capture (all 100 batches; recentProgress caps at 100) ---
    from pyspark.sql.streaming import StreamingQueryListener

    progress: list[dict] = []

    class _Capture(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            import json as _json

            progress.append(_json.loads(event.progress.json))

        def onQueryTerminated(self, event):
            pass

        def onQueryIdle(self, event):
            pass

    cap = _Capture()
    spark.streams.addListener(cap)

    stream = (
        spark.readStream.schema(schemas.ENVELOPE_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    handle = start_pipeline(
        spark,
        stream,
        _config(),
        checkpoint=str(tmp_path / "ckpt"),
        sink="memory",
        memory_sink_name="soak_out",
    )
    try:
        qid = handle.query.id
        deadline = time.monotonic() + 600
        total_rows = n_batches * rows_per_batch

        def _mine() -> list[dict]:
            return [
                p
                for p in list(progress)
                if p.get("id") == str(qid)
                and sum(
                    s.get("numInputRows", 0) for s in p.get("sources", [])
                )
                > 0
            ]

        while time.monotonic() < deadline:
            if sum(
                s["numInputRows"] for p in _mine() for s in p["sources"]
            ) >= total_rows:
                break
            time.sleep(0.25)
        handle.wait_for_stats(total_rows, timeout=60)
    finally:
        handle.stop()
        spark.streams.removeListener(cap)

    data_batches = _mine()
    assert len(data_batches) == n_batches, len(data_batches)

    # (a) flat latency: robust median comparison, first vs last third
    def _median(xs):
        xs = sorted(xs)
        return xs[len(xs) // 2]

    durs = [p["durationMs"]["triggerExecution"] for p in data_batches]
    first, last = _median(durs[5:33]), _median(durs[67:])
    assert last <= max(2.0 * first, first + 1000.0), (first, last, durs)

    # (b) counters == sequential model over the same files
    batch_df = spark.read.schema(schemas.ENVELOPE_SCHEMA).parquet(str(src))
    expected_consume = batch_df.count()
    expected_forwarded = route_envelopes_config(batch_df, _config()).count()
    assert expected_consume == total_rows
    st = handle.stats
    assert st.get("consume") == expected_consume
    assert st.get("forwarded") == expected_forwarded
    assert st.get("ignored") == expected_consume - expected_forwarded
    assert st.get("publish") == expected_forwarded
    assert (
        spark.table("soak_out").count() == expected_forwarded
    )


def test_start_pipeline_failure_unregisters_listener(spark, tmp_path):
    """A start_pipeline that fails during sink construction must not
    leak its streaming listener: the orphan would keep counting every
    other query on the shared session (corrupting their Stats) and
    repeated failed attempts would stack listeners."""
    import pytest as _pytest

    from kafka_firehose_nozzle_spark.stats import Stats

    src = str(tmp_path / "env")
    synthetic_envelope_df(spark, 50, seed=1).coalesce(1).write.parquet(src)

    bad = _config()
    bad.kafka.brokers = []  # kafka sink rejects empty brokers
    failed_stats = Stats()
    with _pytest.raises(ValueError, match="brokers are not provided"):
        start_pipeline(
            spark,
            file_replay_stream(spark, src),
            bad,
            checkpoint=str(tmp_path / "ck_fail"),
            sink="kafka",
            stats=failed_stats,
        )

    # drive an unrelated healthy pipeline; the failed call's listener
    # must observe NOTHING
    handle = start_pipeline(
        spark,
        file_replay_stream(spark, src),
        _config(),
        checkpoint=str(tmp_path / "ck_ok"),
        sink="memory",
        memory_sink_name="leak_probe_out",
    )
    try:
        handle.query.processAllAvailable()
        handle.wait_for_stats(50, timeout=60)
    finally:
        handle.stop()
    assert handle.stats.get("consume") == 50  # the healthy one counted
    assert failed_stats.get("consume") == 0  # the failed one is silent
