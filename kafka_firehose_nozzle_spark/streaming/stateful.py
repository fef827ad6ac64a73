"""Stateful streaming extensions (SURVEY.md §2.5 ST6/ST7 north-star).

The reference explicitly delegates CounterEvent accumulation downstream —
"maintaining the total is left to the consumer" (sonde-go metric.pb.go:54)
— and has no event-time windows or dedup (SURVEY.md ST6/ST7). These
operators ARE that downstream, Spark-first:

- ``counter_running_totals``: per-(origin, name) running totals of
  CounterEvent deltas via ``applyInPandasWithState``. State is one row of
  (total, n_deltas) per key — O(distinct counters), not O(events); each
  micro-batch emits the updated totals for keys seen in that batch.
  (Spark 4's ``transformWithStateInPandas`` is not used: its driver
  worker needs ``google.protobuf``.)
- ``windowed_event_rates``: watermarked tumbling-window counts per event
  type — the distributed, event-time upgrade of the reference's 1-second
  processing-time rate (stats.go:98-111).
- ``dedup_envelopes``: at-least-once -> effectively-once de-duplication
  with a bounded state window (dropDuplicatesWithinWatermark).

All three take the envelope DataFrame (streaming or batch where noted) so
they compose with the routing pipeline.

At scale: every operator here shuffles once on its grouping key and keeps
per-key state bounded; watermarks cap state growth for windows and dedup.
Skewed counter names (one hot counter) are fine — state per key is a
single row, and the shuffle spreads keys across partitions.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from kafka_firehose_nozzle_spark import schemas

if TYPE_CHECKING:
    import pandas as pd

COUNTER_TOTALS_SCHEMA = T.StructType(
    [
        T.StructField("origin", T.StringType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("running_total", T.LongType(), True),
        T.StructField("n_deltas", T.LongType(), True),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("total", T.LongType(), True),
        T.StructField("n", T.LongType(), True),
    ]
)


def counter_deltas(envelopes: DataFrame) -> DataFrame:
    """CounterEvent rows projected to (origin, name, delta)."""
    return envelopes.filter(
        F.col("eventType") == schemas.COUNTER_EVENT
    ).select(
        "origin",
        F.col("counterEvent.name").alias("name"),
        F.col("counterEvent.delta").alias("delta"),
    )


def _accumulate(
    key: tuple,
    pdfs: Iterator["pd.DataFrame"],
    state: GroupState,
) -> Iterator["pd.DataFrame"]:
    import pandas as pd

    total, n = state.get if state.exists else (0, 0)
    total, n = int(total), int(n)
    # nulls count as 0 — a CounterEvent with no delta moves nothing
    for pdf in pdfs:
        total += int(pdf["delta"].fillna(0).sum())
        n += len(pdf)
    state.update((total, n))
    yield pd.DataFrame(
        {
            "origin": [key[0]],
            "name": [key[1]],
            "running_total": [total],
            "n_deltas": [n],
        }
    )


def counter_running_totals(envelopes: DataFrame) -> DataFrame:
    """Streaming running totals per (origin, counter name).

    Each micro-batch emits one updated row per counter key present in the
    batch (use outputMode("update")). No timeout: counters are monotonic
    and long-lived, matching the reference's process-lifetime counters.
    """
    return (
        counter_deltas(envelopes)
        .groupBy("origin", "name")
        .applyInPandasWithState(
            _accumulate,
            outputStructType=COUNTER_TOTALS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def windowed_event_rates(
    envelopes: DataFrame,
    window: str = "1 minute",
    watermark: str = "5 minutes",
    slide: str | None = None,
) -> DataFrame:
    """Event-time windowed counts per event type — tumbling by default,
    sliding when ``slide`` < ``window`` (each event then lands in
    window/slide overlapping windows; same operator the batch
    ``sliding_window_rates`` oracle query uses).

    Works on streaming and batch envelope frames (batch ignores the
    watermark — Spark drops it from the batch plan). Late rows beyond the
    watermark are discarded; state is one aggregate row per
    (window, eventType) until the watermark closes the window.
    """
    with_ts = envelopes.withColumn(
        "event_time", F.timestamp_micros(F.expr("timestamp div 1000"))
    )
    if with_ts.isStreaming:
        with_ts = with_ts.withWatermark("event_time", watermark)
    return (
        with_ts.groupBy(
            F.window("event_time", window, slide or window).alias("w"),
            F.col("eventType"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "eventType",
            "n_events",
        )
    )


def correlate_errors_with_http(
    envelopes: DataFrame,
    lookback: str = "10 minutes",
    watermark: str = "5 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join (ST7 north-star): for every Error
    envelope, the HttpStartStop requests from the same origin in the
    preceding ``lookback`` window — the "what was this origin serving
    when it errored" correlation the reference leaves to downstream.

    Streaming semantics: both sides are watermarked, and the join
    condition bounds the error time to [http_time, http_time + lookback],
    so Spark can expire buffered state once the watermark passes the
    interval (no unbounded state). Works identically on a batch frame
    (watermarks are dropped from batch plans).

    At scale this shuffles both sides on ``origin`` once; state per key is
    bounded by the lookback horizon, and AQE handles origin skew.

    ``how="left_outer"``: errors with NO http activity in the lookback
    window still emit (null http columns) — but only once the watermark
    passes the end of their match interval, i.e. the engine has PROVEN
    no match can still arrive. That delayed-null semantics is the part
    streaming outer joins get wrong when hand-rolled; here it falls out
    of the watermark + interval bound.
    """
    ts = F.timestamp_micros(F.expr("timestamp div 1000"))
    errors = (
        envelopes.filter(F.col("eventType") == schemas.ERROR)
        .select(
            F.col("origin").alias("err_origin"),
            ts.alias("err_time"),
            F.col("error.code").alias("err_code"),
        )
    )
    https = (
        envelopes.filter(F.col("eventType") == schemas.HTTP_START_STOP)
        .select(
            F.col("origin").alias("http_origin"),
            ts.alias("http_time"),
            F.col("httpStartStop.statusCode").alias("status_code"),
            F.col("httpStartStop.uri").alias("uri"),
        )
    )
    if errors.isStreaming:
        errors = errors.withWatermark("err_time", watermark)
        https = https.withWatermark("http_time", watermark)
    return errors.join(
        https,
        on=(
            (F.col("err_origin") == F.col("http_origin"))
            & (F.col("http_time") <= F.col("err_time"))
            & (
                F.col("http_time")
                >= F.col("err_time") - F.expr(f"INTERVAL {lookback}")
            )
        ),
        how=how,
    ).select(
        "err_origin", "err_time", "err_code",
        "http_time", "status_code", "uri",
    )


def dedup_envelopes(
    envelopes: DataFrame,
    within: str = "10 minutes",
) -> DataFrame:
    """Drop duplicate envelopes keeping the first, with state bounded
    to the watermark horizon. Upgrades the reference's at-least-once
    redelivery (SURVEY.md ST1) to effectively-once on the natural key.

    The key includes the emitter-identity fields (deployment, job,
    index, ip), not just (origin, eventType, timestamp): two INSTANCES
    of the same job stamping the same nanosecond are distinct events,
    while redelivery duplicates agree on every field — so the wider key
    eliminates false-positive drops at zero cost to real dedup.
    """
    keys = [
        "origin", "eventType", "timestamp", "deployment", "job", "index", "ip"
    ]
    with_ts = envelopes.withColumn(
        "event_time", F.timestamp_micros(F.expr("timestamp div 1000"))
    )
    if with_ts.isStreaming:
        deduped = with_ts.withWatermark(
            "event_time", within
        ).dropDuplicatesWithinWatermark(keys)
    else:
        deduped = with_ts.dropDuplicates(keys)
    return deduped.drop("event_time")


ANOMALY_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_id", T.LongType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("ewma_before", T.DoubleType(), True),
        T.StructField("zscore", T.DoubleType(), True),
    ]
)

_EWMA_STATE_SCHEMA = T.StructType(
    [
        T.StructField("ewma", T.DoubleType(), True),
        T.StructField("ewmvar", T.DoubleType(), True),
        T.StructField("n", T.LongType(), True),
    ]
)


def _ewma_detect(alpha: float, threshold: float, warmup: int):
    def step(
        key: tuple,
        pdfs: "Iterator[pd.DataFrame]",
        state: GroupState,
    ) -> "Iterator[pd.DataFrame]":
        import math

        import pandas as pd

        ewma, ewmvar, n = state.get if state.exists else (0.0, 0.0, 0)
        out = []
        # concat-then-sort-once: a group spanning multiple Arrow chunks
        # arrives in nondeterministic chunk order; per-chunk sorting
        # would feed the recurrence out of (ts, event_id) order (see
        # _token_bucket)
        frames = [p for p in pdfs if len(p)]
        if frames:
            # a NULL user_id groups under the null key and arrives as
            # NaN — int(row.user_id) on a flagged row would crash-loop
            # the query; an anomaly no user can be attributed to is
            # dropped (value NaN is handled per-row below: skip without
            # poisoning state)
            pdf = (
                pd.concat(frames, ignore_index=True)
                .dropna(subset=["user_id"])
                .sort_values(["ts", "event_id"])
            )
            for row in pdf.itertuples(index=False):
                x = float(row.value)
                if x != x:
                    # a NULL value arrives as NaN; folding it in would
                    # set ewma/ewmvar to NaN PERMANENTLY (every later
                    # comparison is False), silently disabling the
                    # detector for this key — skip: no flag, no update
                    continue
                if n >= warmup:
                    sd = math.sqrt(ewmvar) if ewmvar > 0 else 0.0
                    if sd > 0:
                        z = (x - ewma) / sd
                    elif x != ewma:
                        # zero EW variance (constant warm-up) followed
                        # by ANY jump is the most anomalous case, not
                        # the least — a finite-sd z would be infinite,
                        # so flag with signed infinity instead of the
                        # old silent z=0 miss
                        z = math.inf if x > ewma else -math.inf
                    else:
                        z = 0.0
                    if abs(z) > threshold:
                        out.append(
                            (int(row.user_id), int(row.event_id), x, ewma, z)
                        )
                if n == 0:
                    ewma, ewmvar = x, 0.0
                else:
                    d = x - ewma
                    ewma = ewma + alpha * d
                    # West's EW variance update
                    ewmvar = (1 - alpha) * (ewmvar + alpha * d * d)
                n += 1
        state.update((ewma, ewmvar, n))
        if out:
            yield pd.DataFrame(
                out,
                columns=["user_id", "event_id", "value", "ewma_before", "zscore"],
            )

    return step


def ewma_anomalies(
    events: DataFrame,
    alpha: float = 0.25,
    threshold: float = 3.0,
    warmup: int = 10,
) -> DataFrame:
    """Streaming per-user anomaly detection: an exponentially-weighted
    mean/variance per key (applyInPandasWithState) flags values more
    than ``threshold`` EW standard deviations from the running mean.

    The sequential recurrence is exactly why this is a STATEFUL op and
    not a window: each value's z-score depends on every prior value's
    update, which no bounded window frame expresses.  State per key is
    three scalars — O(users), not O(events); rows inside a batch are
    processed in (ts, event_id) order so replaying the same batch
    sequence reproduces identical flags (tested batch-vs-stream in
    tests/test_stateful.py).  Works on the events table shape
    (event_id, ts, user_id, value)."""
    cols = events.select("user_id", "event_id", "ts", "value")
    return cols.groupBy("user_id").applyInPandasWithState(
        _ewma_detect(alpha, threshold, warmup),
        outputStructType=ANOMALY_SCHEMA,
        stateStructType=_EWMA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def windowed_distinct_registers(
    envelopes: DataFrame,
    window: str = "1 minute",
    watermark: str = "5 minutes",
    m: int = 64,
) -> DataFrame:
    """Streaming LogLog register table: distinct-origin estimates per
    event-time window WITHOUT keeping raw keys in state.

    The naive streaming count_distinct holds every key seen in the
    window in state — unbounded on a 100 TB/day firehose. This instead
    aggregates max(rank) per (window, eventType, register): a single
    valid streaming aggregation whose state is bounded by
    m * n_windows * n_types rows, each a few bytes. Downstream (a
    foreachBatch or the batch reader of the sink) finishes with
    ``operators.dedup.loglog_finalize`` — the register table is
    mergeable across micro-batches and shards by construction
    (max is idempotent/commutative), which is exactly the sketch
    property that makes the two-stage split safe.

    Emits (window_start, window_end, eventType, reg, mx). Late rows
    beyond the watermark are dropped, same policy as
    windowed_event_rates.
    """
    from kafka_firehose_nozzle_spark.operators.dedup import loglog_reg_rank

    with_ts = envelopes.withColumn(
        "event_time", F.timestamp_micros(F.expr("timestamp div 1000"))
    )
    if with_ts.isStreaming:
        with_ts = with_ts.withWatermark("event_time", watermark)
    reg, rank = loglog_reg_rank("origin", m)
    return (
        with_ts.select(
            "event_time", "eventType", reg, rank
        )
        .groupBy(
            F.window("event_time", window).alias("w"),
            F.col("eventType"),
            F.col("reg"),
        )
        .agg(F.max("rank").alias("mx"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "eventType",
            "reg",
            "mx",
        )
    )


RATE_LIMIT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("allowed", T.LongType()),
        T.StructField("dropped", T.LongType()),
        T.StructField("tokens_left_micro", T.LongType()),
    ]
)

_BUCKET_STATE_SCHEMA = T.StructType(
    [
        T.StructField("tokens_micro", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("allowed", T.LongType()),
        T.StructField("dropped", T.LongType()),
    ]
)


def _token_bucket(capacity_micro: int, refill_micro_per_sec: int):
    def step(
        key: tuple,
        pdfs: "Iterator[pd.DataFrame]",
        state: GroupState,
    ) -> "Iterator[pd.DataFrame]":
        import pandas as pd

        tokens, last_us, allowed, dropped = (
            state.get if state.exists else (capacity_micro, -1, 0, 0)
        )
        # Arrow hands a group's rows as MULTIPLE chunks (split at
        # maxRecordsPerBatch) in nondeterministic shuffle order —
        # sorting each chunk alone would not restore the global
        # (us, event_id) order the replay contract depends on, so
        # concatenate first and sort ONCE.
        frames = [p for p in pdfs if len(p)]
        if frames:
            # a NULL ts arrives as NaN; int(NaN) raises and the poison
            # row crash-loops the query on checkpoint replay — a row
            # with no event time cannot be rate-accounted, drop it
            pdf = (
                pd.concat(frames, ignore_index=True)
                .dropna(subset=["us"])
                .sort_values(["us", "event_id"])
            )
            for row in pdf.itertuples(index=False):
                us = int(row.us)
                if last_us >= 0 and us > last_us:
                    # event-time refill in exact integer micro-tokens:
                    # elapsed_us * rate / 1e6, floor — deterministic on
                    # replay, immune to wall clocks
                    tokens = min(
                        capacity_micro,
                        tokens
                        + (us - last_us) * refill_micro_per_sec // 1_000_000,
                    )
                last_us = max(last_us, us)
                if tokens >= 1_000_000:
                    tokens -= 1_000_000
                    allowed += 1
                else:
                    dropped += 1
        state.update((tokens, last_us, allowed, dropped))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "allowed": [allowed],
                "dropped": [dropped],
                "tokens_left_micro": [tokens],
            }
        )

    return step


def rate_limited_counts(
    events: DataFrame,
    capacity: int = 5,
    refill_per_sec: float = 0.001,
) -> DataFrame:
    """Streaming per-key token-bucket rate limiter with COUNTED drops.

    The reference's stance on overload is drop-and-count, never block
    (slowConsumerAlert + dropped-message counters, kafka.go:269-271,
    stats.go:41-74); this is the same policy as an admission-control
    operator: each user gets a bucket of ``capacity`` tokens refilled
    at ``refill_per_sec``; each event consumes one token; events beyond
    the rate are counted as dropped, and every micro-batch emits the
    running (allowed, dropped, tokens_left) per key seen in the batch
    (outputMode("update")).

    Determinism at scale: refill is computed from EVENT time in exact
    integer micro-token arithmetic (elapsed_us * rate_micro // 1e6), so
    replaying the same batch sequence — any checkpoint recovery, any
    executor — reproduces identical admit/drop decisions; wall clocks
    never enter.  State per key is four int64s — O(users), bounded.
    Rows within a batch process in (ts, event_id) order, the same
    total order every deterministic op in this repo uses.
    """
    cap_micro = int(capacity * 1_000_000)
    refill_micro = int(round(refill_per_sec * 1_000_000))
    cols = events.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    return cols.groupBy("user_id").applyInPandasWithState(
        _token_bucket(cap_micro, refill_micro),
        outputStructType=RATE_LIMIT_SCHEMA,
        stateStructType=_BUCKET_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


HEAVY_HITTERS_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("item", T.LongType()),
        T.StructField("est_count", T.LongType()),
        T.StructField("max_overestimate", T.LongType()),
    ]
)

_SS_STATE_SCHEMA = T.StructType(
    [
        T.StructField("items", T.ArrayType(T.LongType())),
        T.StructField("counts", T.ArrayType(T.LongType())),
        T.StructField("errs", T.ArrayType(T.LongType())),
    ]
)


def _space_saving(m: int):
    def step(
        key: tuple,
        pdfs: "Iterator[pd.DataFrame]",
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        if state.exists:
            items, counts, errs = state.get
            table = {
                i: (c, e) for i, c, e in zip(items, counts, errs)
            }
        else:
            table = {}
        # concat-then-sort-once: chunked Arrow delivery would otherwise
        # break the global (ts_us, item) order eviction determinism
        # depends on (see _token_bucket)
        frames = [p for p in pdfs if len(p)]
        if frames:
            # a NULL item (nullable user_id) arrives as NaN in the
            # pandas chunk; .astype("int64") on it raises and the
            # poison row then crash-loops the query from the
            # checkpoint — unattributable rows are dropped instead
            pdf = (
                pd.concat(frames, ignore_index=True)
                .dropna(subset=["item"])
                .sort_values(["ts_us", "item"])
            )
            for it in pdf["item"].astype("int64"):
                it = int(it)
                if it in table:
                    c, e = table[it]
                    table[it] = (c + 1, e)
                elif len(table) < m:
                    table[it] = (1, 0)
                else:
                    # evict the minimum counter; ties broken by the
                    # SMALLEST item id so replay is deterministic
                    ev_it = min(
                        table, key=lambda k: (table[k][0], k)
                    )
                    mn = table[ev_it][0]
                    del table[ev_it]
                    table[it] = (mn + 1, mn)
        ordered = sorted(table.items(), key=lambda kv: kv[0])
        state.update(
            (
                [i for i, _ in ordered],
                [c for _, (c, _e) in ordered],
                [e for _, (_c, e) in ordered],
            )
        )
        out = sorted(
            table.items(), key=lambda kv: (-kv[1][0], kv[0])
        )
        yield pd.DataFrame(
            {
                "event_type": [key[0]] * len(out),
                "item": [i for i, _ in out],
                "est_count": [c for _, (c, _e) in out],
                "max_overestimate": [e for _, (_c, e) in out],
            }
        )

    return step


def heavy_hitters(
    events: DataFrame,
    m: int = 8,
) -> DataFrame:
    """Streaming SpaceSaving heavy hitters per event type: the top-m
    item table that answers "who dominates this stream?" with state
    BOUNDED at m counters per key — the 100 TB / unbounded-stream
    replacement for a groupBy-count top-k whose state would be the
    full item cardinality.

    SpaceSaving (Metwally et al. 2005) invariants the test pins:
    est_count >= true count for every tracked item, the overestimate
    is at most the evicted minimum recorded alongside, and any item
    with true count > N/m is guaranteed tracked.  Determinism: rows
    process in (event time, item) order and counter eviction
    tie-breaks on the smallest item id, so any replay of the same
    batch sequence yields the identical table — the same property
    every stateful op in this module guarantees.

    State per key: three m-length arrays — O(keys * m), independent of
    stream length.  Each micro-batch emits the full current table per
    key seen in the batch (outputMode("update"))."""
    cols = events.select(
        "event_type",
        F.col("user_id").cast("long").alias("item"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    return cols.groupBy("event_type").applyInPandasWithState(
        _space_saving(m),
        outputStructType=HEAVY_HITTERS_SCHEMA,
        stateStructType=_SS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
