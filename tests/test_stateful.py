"""Stateful streaming: running counter totals across micro-batches,
watermarked windows, streaming dedup (SURVEY.md ST6/ST7 north-star)."""

from pyspark.sql import functions as F

from kafka_firehose_nozzle_spark import schemas
from kafka_firehose_nozzle_spark.fixtures import synthetic_envelope_df
from kafka_firehose_nozzle_spark.streaming.stateful import (
    counter_deltas,
    counter_running_totals,
    dedup_envelopes,
    windowed_event_rates,
)


def _write_batches(spark, path: str, n: int, batches: int) -> None:
    # one parquet file per directory-batch; maxFilesPerTrigger=1 replays
    # them as separate micro-batches in lexical order
    per = n // batches
    for b in range(batches):
        (
            synthetic_envelope_df(spark, per, seed=b)
            .coalesce(1)
            .write.mode("append")
            .parquet(path)
        )


def _stream(spark, path):
    return (
        spark.readStream.schema(schemas.ENVELOPE_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
    )


def test_counter_running_totals_accumulate_across_batches(spark, tmp_path):
    src = str(tmp_path / "env")
    _write_batches(spark, src, 2000, batches=2)

    q = (
        counter_running_totals(_stream(spark, src))
        .writeStream.format("memory")
        .queryName("ct_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # last emitted row per key = final running total; must equal the
    # batch-computed sum over ALL files
    out = spark.sql("SELECT * FROM ct_out").toPandas()
    finals = (
        out.groupby(["origin", "name"]).last().reset_index()
    )  # memory sink appends in batch order
    expected = (
        counter_deltas(
            spark.read.schema(schemas.ENVELOPE_SCHEMA).parquet(src)
        )
        .groupBy("origin", "name")
        .agg(
            F.sum("delta").alias("running_total"),
            F.count(F.lit(1)).alias("n_deltas"),
        )
        .toPandas()
    )
    merged = finals.merge(
        expected, on=["origin", "name"], suffixes=("_got", "_want")
    )
    assert len(merged) == len(expected) > 0
    assert (merged["running_total_got"] == merged["running_total_want"]).all()
    assert (merged["n_deltas_got"] == merged["n_deltas_want"]).all()
    # state persisted across micro-batches: keys emitted in both batches
    # must show a strictly growing total in the update stream
    multi = out.groupby(["origin", "name"]).size()
    assert (multi >= 2).any()


def test_windowed_event_rates_streaming_matches_batch(spark, tmp_path):
    src = str(tmp_path / "env")
    # fixture timestamps span only ~1ms — spread each micro-batch file over
    # its own hour so the watermark actually closes windows (file b owns
    # hour b; files never overlap, so no row is ever late)
    for b in range(3):
        (
            synthetic_envelope_df(spark, 500, seed=b)
            .withColumn(
                "timestamp",
                F.col("timestamp")
                + F.lit(b * 3_600_000_000_000)
                + F.pmod(F.xxhash64("timestamp", F.lit(b)), F.lit(50))
                * F.lit(60_000_000_000),
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )

    q = (
        windowed_event_rates(_stream(spark, src), window="1 minute")
        .writeStream.format("memory")
        .queryName("win_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    batch_df = windowed_event_rates(
        spark.read.schema(schemas.ENVELOPE_SCHEMA).parquet(src)
    ).toPandas()
    # append mode only emits windows closed by the watermark; every
    # emitted row must match the batch aggregate exactly
    got = spark.sql("SELECT * FROM win_out").toPandas()
    assert len(got) > 0, "watermark must have closed at least one window"
    merged = got.merge(
        batch_df,
        on=["window_start", "window_end", "eventType"],
        suffixes=("_got", "_want"),
    )
    assert len(merged) == len(got)
    assert (merged["n_events_got"] == merged["n_events_want"]).all()


def test_dedup_envelopes_streaming(spark, tmp_path):
    src = str(tmp_path / "env")
    # same seed twice -> every envelope duplicated across two files
    for _ in range(2):
        (
            synthetic_envelope_df(spark, 500, seed=7)
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )

    q = (
        dedup_envelopes(_stream(spark, src))
        .select("origin", "eventType", "timestamp")
        .writeStream.format("memory")
        .queryName("dd_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    out = spark.sql("SELECT * FROM dd_out")
    distinct_keys = (
        spark.read.schema(schemas.ENVELOPE_SCHEMA)
        .parquet(src)
        .select("origin", "eventType", "timestamp")
        .distinct()
        .count()
    )
    assert out.count() == distinct_keys == 500
    assert out.distinct().count() == distinct_keys


def test_dedup_envelopes_batch(spark):
    df = synthetic_envelope_df(spark, 300, seed=3)
    doubled = df.unionAll(df)
    assert dedup_envelopes(doubled).count() == 300


def test_correlate_errors_with_http_streaming_matches_batch(spark, tmp_path):
    from kafka_firehose_nozzle_spark.streaming.stateful import (
        correlate_errors_with_http,
    )

    src = str(tmp_path / "env_join")
    _write_batches(spark, src, 3000, batches=3)

    q = (
        correlate_errors_with_http(_stream(spark, src))
        .writeStream.format("memory")
        .queryName("joined_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_join"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    streamed = spark.sql("SELECT * FROM joined_out").toPandas()

    batch_env = spark.read.schema(schemas.ENVELOPE_SCHEMA).parquet(src)
    batch = correlate_errors_with_http(batch_env).toPandas()

    assert len(batch) > 0, "fixture should produce at least one correlation"
    key = ["err_origin", "err_time", "err_code", "http_time", "uri"]
    s = streamed.sort_values(key).reset_index(drop=True)
    b = batch.sort_values(key).reset_index(drop=True)
    # streaming inner interval join emits exactly the batch result once
    # all files are processed (no late data in the fixture)
    assert len(s) == len(b)
    assert (s[key].values == b[key].values).all()


def test_windowed_rates_sliding(spark):
    """slide < window: every event lands in window/slide overlapping
    windows (batch mode; streaming uses the identical operator)."""
    from kafka_firehose_nozzle_spark.fixtures import canonical_envelope_df
    from kafka_firehose_nozzle_spark.streaming.stateful import (
        windowed_event_rates,
    )

    env = canonical_envelope_df(spark)
    n_env = env.count()
    tumbling = windowed_event_rates(env, window="10 minutes")
    sliding = windowed_event_rates(env, window="10 minutes", slide="5 minutes")
    import pyspark.sql.functions as F

    assert tumbling.agg(F.sum("n_events")).collect()[0][0] == n_env
    # each event counted exactly twice across the overlapping windows
    assert sliding.agg(F.sum("n_events")).collect()[0][0] == 2 * n_env
    # slide grid is finer: at least as many distinct window starts
    assert sliding.select("window_start").distinct().count() >= (
        tumbling.select("window_start").distinct().count()
    )


def test_windowed_rates_drop_late_rows(spark, tmp_path):
    """ST6: rows older than the watermark horizon are dropped once the
    watermark has advanced past their window."""
    import time as _time

    from kafka_firehose_nozzle_spark import schemas as S
    from kafka_firehose_nozzle_spark.fixtures import TEST_TS

    src = str(tmp_path / "late_env")
    hour_ns = 3_600 * 1_000_000_000

    def envs(ts_offsets_ns):
        rows = []
        for i, off in enumerate(ts_offsets_ns):
            rows.append({
                "origin": f"o{i}", "eventType": S.VALUE_METRIC,
                "timestamp": TEST_TS + off,
                "deployment": None, "job": None, "index": None, "ip": None,
                "tags": None, "httpStartStop": None, "logMessage": None,
                "valueMetric": {"name": "m", "value": 1.0, "unit": "u"},
                "counterEvent": None, "error": None, "containerMetric": None,
            })
        return spark.createDataFrame(rows, S.ENVELOPE_SCHEMA)

    # batch 1: establish event time far ahead (watermark advances)
    envs([10 * hour_ns]).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(S.ENVELOPE_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        windowed_event_rates(stream, window="1 minute", watermark="1 minute")
        .writeStream.format("memory")
        .queryName("late_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_late"))
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: a row 10 hours older than the advanced watermark
        envs([0]).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        # batch 3: advance time further so closed windows emit
        envs([11 * hour_ns]).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    out = spark.sql("SELECT * FROM late_out").toPandas()
    # the hour-10 window emitted; the late hour-0 row never appears
    # exactly the hour-10 window emitted: hour-0 was dropped as late,
    # hour-11's window is still open past the final watermark
    assert len(out) == 1
    assert (out["n_events"] == 1).all()
    starts = set(out["window_start"].astype(str))
    import pandas as pd
    late_window = pd.Timestamp(TEST_TS // 1_000_000_000, unit="s").floor("min")
    assert str(late_window) not in starts


def test_ewma_anomalies_stream_matches_sequential_model(spark, tmp_path):
    """The streaming EWMA detector, fed the event log in two
    ts-ordered micro-batches, must flag exactly the rows a sequential
    per-user reference implementation flags over the full log — state
    carries the recurrence across the batch boundary."""
    import math

    from pyspark.sql import functions as F

    from kafka_firehose_nozzle_spark.streaming.stateful import ewma_anomalies

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select("user_id", "event_id", "ts", "value")
        .filter(F.col("user_id") < 10)
    )
    cutoff = ev.agg(
        F.expr("percentile(unix_micros(to_timestamp(ts)), 0.5)")
    ).head()[0]
    micros = F.unix_micros(F.to_timestamp(F.col("ts")))
    src = str(tmp_path / "src")
    ev.filter(micros <= cutoff).coalesce(1).write.parquet(src)
    ev.filter(micros > cutoff).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = str(tmp_path / "flags")
    q = (
        ewma_anomalies(stream, alpha=0.25, threshold=2.0, warmup=5)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["user_id"], r["event_id"])
        for r in spark.read.parquet(out).collect()
    }

    # sequential reference over the full, globally ordered log
    expected = set()
    rows = sorted(
        ev.collect(), key=lambda r: (r["user_id"], r["ts"], r["event_id"])
    )
    state = {}
    for r in rows:
        ewma, ewmvar, n = state.get(r["user_id"], (0.0, 0.0, 0))
        x = float(r["value"])
        if n >= 5:
            sd = math.sqrt(ewmvar) if ewmvar > 0 else 0.0
            if sd > 0:
                z = (x - ewma) / sd
            elif x != ewma:
                # zero-variance warm-up then a jump: flagged with
                # signed infinity (the operator's spec — the old z=0
                # silently missed the most anomalous case)
                z = math.inf if x > ewma else -math.inf
            else:
                z = 0.0
            if abs(z) > 2.0:
                expected.add((r["user_id"], r["event_id"]))
        if n == 0:
            ewma, ewmvar = x, 0.0
        else:
            d = x - ewma
            ewma = ewma + 0.25 * d
            ewmvar = 0.75 * (ewmvar + 0.25 * d * d)
        state[r["user_id"]] = (ewma, ewmvar, n + 1)

    assert len(expected) > 0
    assert got == expected


def test_correlate_left_outer_emits_unmatched_after_watermark(
    spark, tmp_path
):
    """left_outer interval join: an error origin with NO http activity
    must still emit — with null http columns — but only after the
    watermark proves no match can arrive. Three micro-batches: t0 data
    (with a planted http-less error origin), +2h and +4h data to push
    the watermark past the match interval (outer rows for batch N's
    state emit while batch N+2 processes: the watermark from N+1's data
    takes effect at the next trigger)."""
    from kafka_firehose_nozzle_spark.streaming.stateful import (
        correlate_errors_with_http,
    )

    src = str(tmp_path / "env_outer")
    base = synthetic_envelope_df(spark, 600, seed=0)
    lonely = (
        base.filter(F.col("eventType") == schemas.ERROR)
        .limit(1)
        .withColumn("origin", F.lit("lonely-origin"))
    )
    base.unionByName(lonely).coalesce(1).write.mode("append").parquet(src)
    for shift_h in (2, 4):
        (
            synthetic_envelope_df(spark, 50, seed=shift_h)
            .withColumn(
                "timestamp",
                F.col("timestamp") + F.lit(shift_h * 3600 * 10**9),
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )

    q = (
        correlate_errors_with_http(_stream(spark, src), how="left_outer")
        .writeStream.format("memory")
        .queryName("outer_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_outer"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    out = spark.sql("SELECT * FROM outer_out").toPandas()
    lonely_rows = out[out["err_origin"] == "lonely-origin"]
    assert len(lonely_rows) == 1
    assert lonely_rows["http_time"].isna().all()
    assert lonely_rows["uri"].isna().all()
    # matched pairs still appear exactly as the inner join would produce
    batch_env = spark.read.schema(schemas.ENVELOPE_SCHEMA).parquet(src)
    inner = correlate_errors_with_http(batch_env).toPandas()
    matched = out[out["http_time"].notna()]
    assert len(matched) == len(inner)


def test_rate_limiter_stream_matches_sequential_model(spark, tmp_path):
    """The streaming token bucket, fed the event log in two ts-ordered
    micro-batches, must admit/drop exactly what a sequential per-user
    model admits over the full log — integer event-time refill carries
    across the batch boundary, and the memory-sink final row per user
    equals the model's totals."""
    from pyspark.sql import functions as F

    from kafka_firehose_nozzle_spark.streaming.stateful import (
        rate_limited_counts,
    )

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select("user_id", "event_id", "ts")
        .filter(F.col("user_id") < 10)
    )
    cutoff = ev.agg(
        F.expr("percentile(unix_micros(to_timestamp(ts)), 0.5)")
    ).head()[0]
    micros = F.unix_micros(F.to_timestamp(F.col("ts")))
    src = str(tmp_path / "src")
    ev.filter(micros <= cutoff).coalesce(1).write.parquet(src)
    ev.filter(micros > cutoff).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        rate_limited_counts(stream, capacity=5, refill_per_sec=1e-5)
        .writeStream.format("memory")
        .queryName("rate_limited_t")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # memory sink in update mode appends each batch's update rows;
    # totals are monotonic, so the max tuple per user is the final state
    got_rows = spark.table("rate_limited_t").collect()
    got = {}
    for r in got_rows:
        got[r["user_id"]] = (r["allowed"], r["dropped"])
    # (parquet appends both batches' update rows; totals are monotonic,
    # so the max tuple per user is the final state)
    got = {
        u: max(
            (r["allowed"], r["dropped"])
            for r in got_rows
            if r["user_id"] == u
        )
        for u in {r["user_id"] for r in got_rows}
    }

    # sequential reference over the full, globally ordered log
    cap_micro, refill_micro = 5_000_000, 10
    state = {}
    rows = sorted(
        ev.withColumn("us", micros).collect(),
        key=lambda r: (r["user_id"], r["us"], r["event_id"]),
    )
    for r in rows:
        tokens, last_us, allowed, dropped = state.get(
            r["user_id"], (cap_micro, -1, 0, 0)
        )
        us = r["us"]
        if last_us >= 0 and us > last_us:
            tokens = min(
                cap_micro, tokens + (us - last_us) * refill_micro // 1_000_000
            )
        last_us = max(last_us, us)
        if tokens >= 1_000_000:
            tokens, allowed = tokens - 1_000_000, allowed + 1
        else:
            dropped += 1
        state[r["user_id"]] = (tokens, last_us, allowed, dropped)

    expected = {u: (s[2], s[3]) for u, s in state.items()}
    assert got == expected
    # the limiter must actually have limited something at this rate
    assert sum(d for _a, d in expected.values()) > 0


def test_heavy_hitters_stream_matches_model_and_bounds(spark, tmp_path):
    """Streaming SpaceSaving over two micro-batches must equal the
    sequential model on the full log, and satisfy the sketch's
    guarantees: est >= exact for tracked items, and every item with
    true count > N/m is tracked."""
    from pyspark.sql import functions as F

    from kafka_firehose_nozzle_spark.streaming.stateful import heavy_hitters

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_type", "user_id", "ts"
    )
    cutoff = ev.agg(
        F.expr("percentile(unix_micros(to_timestamp(ts)), 0.5)")
    ).head()[0]
    micros = F.unix_micros(F.to_timestamp(F.col("ts")))
    src = str(tmp_path / "src")
    ev.filter(micros <= cutoff).coalesce(1).write.parquet(src)
    ev.filter(micros > cutoff).coalesce(1).write.mode("append").parquet(src)

    m = 8
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        heavy_hitters(stream, m=m)
        .writeStream.format("memory")
        .queryName("hh_t")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.table("hh_t").toPandas()
    # the final table per event_type = the rows from the LAST batch that
    # emitted that type; reconstruct via max est_count per (type, item)
    # is wrong under eviction — instead rerun the model and compare to
    # the last emission: memory sink appends batch-by-batch, so take
    # each type's rows from the second half of the table
    # (simpler: compare against model using the final state = last
    # emitted rows per type; batches are processed in file order)
    # Identify last emission per type by taking rows after the final
    # batch boundary: every type appears in both batches here, so the
    # last len/2 rows per type are the final table.
    model = {}
    rows = sorted(
        ev.withColumn("us", micros).collect(),
        key=lambda r: (r["event_type"], r["us"], r["user_id"]),
    )
    for r in rows:
        table = model.setdefault(r["event_type"], {})
        it = r["user_id"]
        if it in table:
            c, e = table[it]
            table[it] = (c + 1, e)
        elif len(table) < m:
            table[it] = (1, 0)
        else:
            ev_it = min(table, key=lambda k: (table[k][0], k))
            mn = table[ev_it][0]
            del table[ev_it]
            table[it] = (mn + 1, mn)

    exact = {
        (r["event_type"], r["user_id"]): r["n"]
        for r in ev.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_per_type = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }

    for et, table in model.items():
        got_rows = out[out["event_type"] == et]
        # final emission: the last |table| rows for this type
        final = got_rows.tail(len(table))
        got_table = {
            int(r.item): (int(r.est_count), int(r.max_overestimate))
            for r in final.itertuples(index=False)
        }
        assert got_table == table, et
        # SpaceSaving guarantees on the model itself
        for it, (c, e) in table.items():
            true = exact.get((et, it), 0)
            assert c >= true >= c - e
        threshold = n_per_type[et] / m
        tracked = set(table)
        for (t, it), n in exact.items():
            if t == et and n > threshold:
                assert it in tracked, (et, it, n)


def test_rate_limiter_state_survives_query_restart(spark, tmp_path):
    """Crash-recovery contract for stateful ops: stop the query after
    batch 1, start a NEW query from the same checkpoint, feed batch 2 —
    the final totals must equal the single-run (and sequential-model)
    result, proving bucket state restores from the state store rather
    than resetting."""
    from pyspark.sql import functions as F

    from kafka_firehose_nozzle_spark.streaming.stateful import (
        rate_limited_counts,
    )

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select("user_id", "event_id", "ts")
        .filter(F.col("user_id") < 5)
    )
    cutoff = ev.agg(
        F.expr("percentile(unix_micros(to_timestamp(ts)), 0.5)")
    ).head()[0]
    micros = F.unix_micros(F.to_timestamp(F.col("ts")))
    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")

    out = str(tmp_path / "out")

    def run_query(qname):
        # memory sink cannot recover an existing checkpoint; foreachBatch
        # appending to parquet is the recoverable update-mode sink shape
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        return (
            rate_limited_counts(stream, capacity=5, refill_per_sec=1e-5)
            .writeStream.foreachBatch(
                lambda df, _bid: df.write.mode("append").parquet(out)
            )
            .queryName(qname)
            .option("checkpointLocation", ck)
            .outputMode("update")
            .start()
        )

    # run 1: only batch 1 exists
    ev.filter(micros <= cutoff).coalesce(1).write.parquet(src)
    q = run_query("rl_run1")
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # batch 2 lands while no query is running (the crash window)
    ev.filter(micros > cutoff).coalesce(1).write.mode("append").parquet(src)
    q = run_query("rl_run2")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got_rows = spark.read.parquet(out).collect()
    got = {
        u: max(
            (r["allowed"], r["dropped"])
            for r in got_rows
            if r["user_id"] == u
        )
        for u in {r["user_id"] for r in got_rows}
    }

    # sequential model over the full log
    cap_micro, refill_micro = 5_000_000, 10
    state = {}
    for r in sorted(
        ev.withColumn("us", micros).collect(),
        key=lambda r: (r["user_id"], r["us"], r["event_id"]),
    ):
        tokens, last_us, allowed, dropped = state.get(
            r["user_id"], (cap_micro, -1, 0, 0)
        )
        us = r["us"]
        if last_us >= 0 and us > last_us:
            tokens = min(
                cap_micro, tokens + (us - last_us) * refill_micro // 1_000_000
            )
        last_us = max(last_us, us)
        if tokens >= 1_000_000:
            tokens, allowed = tokens - 1_000_000, allowed + 1
        else:
            dropped += 1
        state[r["user_id"]] = (tokens, last_us, allowed, dropped)
    expected = {u: (s[2], s[3]) for u, s in state.items()}
    assert got == expected


def test_rate_limiter_chunked_arrow_delivery_deterministic(spark, tmp_path):
    """Force maxRecordsPerBatch=7 so every group's rows arrive as MANY
    Arrow chunks in shuffle order: the operator must concat-then-sort
    globally (per-chunk sorting would feed the bucket out of event-time
    order and diverge from the sequential model)."""
    from pyspark.sql import functions as F

    from kafka_firehose_nozzle_spark.streaming.stateful import (
        rate_limited_counts,
    )

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        ev = (
            spark.read.parquet("/root/testdata/sf0.001/events.parquet")
            .select("user_id", "event_id", "ts")
            .filter(F.col("user_id") < 5)
        )
        src = str(tmp_path / "src")
        ev.coalesce(1).write.parquet(src)
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            rate_limited_counts(stream, capacity=5, refill_per_sec=1e-5)
            .writeStream.format("memory")
            .queryName("rl_chunked")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .outputMode("update")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {
            r["user_id"]: (r["allowed"], r["dropped"])
            for r in spark.table("rl_chunked").collect()
        }

        micros = F.unix_micros(F.to_timestamp(F.col("ts")))
        cap_micro, refill_micro = 5_000_000, 10
        state = {}
        for r in sorted(
            ev.withColumn("us", micros).collect(),
            key=lambda r: (r["user_id"], r["us"], r["event_id"]),
        ):
            tokens, last_us, allowed, dropped = state.get(
                r["user_id"], (cap_micro, -1, 0, 0)
            )
            us = r["us"]
            if last_us >= 0 and us > last_us:
                tokens = min(
                    cap_micro,
                    tokens + (us - last_us) * refill_micro // 1_000_000,
                )
            last_us = max(last_us, us)
            if tokens >= 1_000_000:
                tokens, allowed = tokens - 1_000_000, allowed + 1
            else:
                dropped += 1
            state[r["user_id"]] = (tokens, last_us, allowed, dropped)
        expected = {u: (s[2], s[3]) for u, s in state.items()}
        assert got == expected
    finally:
        spark.conf.set(key, old)


def _null_poison_run(spark, tmp_path, op, name, mode="update"):
    """Drive ``op`` over the events log twice — clean, and with
    null-field poison rows injected — and return both sorted outputs.
    The poison rows must neither crash the query (the pandas chunk
    turns nulls into NaN; int()/astype on NaN raised and the batch
    then crash-looped from the checkpoint) nor change the clean rows'
    results (drop/skip semantics)."""
    import datetime as _dt

    from pyspark.sql import Row

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select("event_id", "ts", "user_id", "event_type", "value")
        .filter(F.col("user_id") < 5)
    )
    late = _dt.datetime(2025, 6, 1, 0, 0, 0)
    poison = spark.createDataFrame(
        [
            Row(event_id=900001, ts=None, user_id=3, event_type="view", value=1.0),
            Row(event_id=900002, ts=late, user_id=None,
                event_type="view", value=2.0),
            Row(event_id=900003, ts=late, user_id=4,
                event_type="view", value=None),
        ],
        ev.schema,
    )
    outs = []
    for tag, df in (("clean", ev), ("poison", ev.unionByName(poison))):
        src = str(tmp_path / f"{name}_{tag}_src")
        df.coalesce(1).write.parquet(src)
        stream = spark.readStream.schema(ev.schema).parquet(src)
        sink = f"np_{name}_{tag}"
        q = (
            op(stream)
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode(mode)
            .option("checkpointLocation", str(tmp_path / f"{name}_{tag}_ck"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        outs.append(
            sorted(
                (tuple(r) for r in spark.table(sink).collect()),
                key=lambda t: tuple((v is None, v) for v in t),
            )
        )
    return outs


def test_heavy_hitters_null_user_id_dropped_not_crash(spark, tmp_path):
    from kafka_firehose_nozzle_spark.streaming.stateful import heavy_hitters

    clean, poisoned = _null_poison_run(
        spark, tmp_path, lambda s: heavy_hitters(s, m=4), "hh"
    )
    assert clean  # non-degenerate
    # the two valid poison rows (ids 3 and 4) still count; only the
    # null-item row is dropped — so compare table SHAPE, not equality:
    # every clean item survives with est_count >= its clean estimate
    clean_items = {(r[0], r[1]) for r in clean}
    poisoned_items = {(r[0], r[1]) for r in poisoned}
    assert clean_items <= poisoned_items


def test_rate_limiter_null_ts_dropped_not_crash(spark, tmp_path):
    from kafka_firehose_nozzle_spark.streaming.stateful import (
        rate_limited_counts,
    )

    clean, poisoned = _null_poison_run(
        spark,
        tmp_path,
        lambda s: rate_limited_counts(s, capacity=3, refill_per_sec=0.5),
        "rl",
    )
    assert clean
    # the null-ts row (user 3) is dropped; users other than 3/4/None
    # must be byte-identical
    untouched = lambda rows: sorted(
        r for r in rows if r[0] not in (3, 4, None)
    )
    assert untouched(clean) == untouched(poisoned)


def test_ewma_null_value_and_user_skip_not_poison(spark, tmp_path):
    from kafka_firehose_nozzle_spark.streaming.stateful import ewma_anomalies

    clean, poisoned = _null_poison_run(
        spark,
        tmp_path,
        lambda s: ewma_anomalies(s, alpha=0.25, threshold=2.0, warmup=5),
        "ew",
        mode="append",
    )
    # the null-VALUE row must neither flag nor poison user 4's state:
    # every clean flag for users != 3 survives identically (user 3
    # gains a ts=None row which sorts last and may shift its tail)
    flags = lambda rows: sorted(r for r in rows if r[0] != 3)
    assert flags(clean) == flags(poisoned)
